"""Surgical log-noise filter contract (r10 VERDICT item: the FATAL pin
on the whole DAGScheduler logger hid actionable ERRORs; r11 replaces it
with a message-scoped RegexFilter).

Three assertions, all against a REAL JVM console appender:

1. a synthetic DAGScheduler ERROR still reaches stderr (the filter is
   NEUTRAL on everything but the accumulator spam),
2. the benign ``Failed to update accumulator`` line is denied, and
3. the DAGScheduler config follows the root level: after
   ``setLogLevel("ERROR")`` its INFO lines are dropped.

The suite's session-scoped JVM inherited its stderr fd before pytest's
capture machinery existed, so ``capfd`` cannot see it -- the end-to-end
check therefore boots a minimal throwaway session in a subprocess and
greps ITS stderr. A cheap in-process twin asserts the filter object's
decisions directly on the live suite session (no JVM boot)."""
from __future__ import annotations

import subprocess
import sys

from selfhosted_rag_doc_chat_prototype_spark.session import (
    _ACC_SPAM_REGEX,
    _DAG_LOGGER,
)

_SUBPROC = r"""
import sys
from selfhosted_rag_doc_chat_prototype_spark.session import get_spark, _DAG_LOGGER
spark = get_spark(cpus=1, shuffle_partitions=1)
log = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager \
    .getLogger(_DAG_LOGGER)
log.error("SYNTHETIC-DAG-ERROR-MARKER must still appear")
log.error("Failed to update accumulator 42 MUST-BE-DENIED")
log.warn("SYNTHETIC-DAG-WARN-MARKER other levels unaffected")
spark.sparkContext.setLogLevel("ERROR")
log.info("SYNTHETIC-DAG-INFO-MARKER below the root level")
log.error("SYNTHETIC-DAG-LATE-ERROR-MARKER must still appear")
log.error("Failed to update accumulator 43 MUST-BE-DENIED-LATE")
spark.stop()
"""


def test_dag_error_passes_accumulator_spam_denied():
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROC],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    err = proc.stderr
    assert proc.returncode == 0, err[-2000:]
    # genuine ERRORs from the DAGScheduler class are NOT suppressed
    assert "SYNTHETIC-DAG-ERROR-MARKER" in err
    # non-ERROR levels flow too (the r10 FATAL pin would have eaten
    # this WARN as well)
    assert "SYNTHETIC-DAG-WARN-MARKER" in err
    # the one benign spam line is dropped before the appenders
    assert "MUST-BE-DENIED" not in err
    # the dedicated config follows the root level: setLogLevel reaches
    # it, and the filter keeps working after the level change
    assert "SYNTHETIC-DAG-INFO-MARKER" not in err
    assert "SYNTHETIC-DAG-LATE-ERROR-MARKER" in err


def test_filter_object_decisions(spark):
    """In-process twin on the live suite session: the dedicated
    LoggerConfig exists, stays additive at the inherited level (no
    wholesale FATAL pin), and its filter DENYs exactly the spam
    message."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    conf = jvm.org.apache.logging.log4j.LogManager.getContext(False) \
        .getConfiguration()
    lc = conf.getLoggerConfig(_DAG_LOGGER)
    assert lc.getName() == _DAG_LOGGER
    assert lc.isAdditive()
    assert str(lc.getLevel()) != "FATAL"
    filt = lc.getFilter()
    assert filt is not None
    level = jvm.org.apache.logging.log4j.Level.ERROR
    no_params = gw.new_array(jvm.java.lang.Object, 0)
    deny = filt.filter(None, level, None,
                       "Failed to update accumulator 7", no_params)
    neutral = filt.filter(None, level, None,
                          "Shuffle files lost for executor 3", no_params)
    assert str(deny) == "DENY"
    assert str(neutral) != "DENY"


def test_spam_regex_matches_real_message():
    import re
    real = ("Failed to update accumulator 12345 "
            "(org.apache.spark.sql.execution.metric.SQLMetric) for task 3")
    assert re.match(_ACC_SPAM_REGEX, real)
