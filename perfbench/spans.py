"""Spans at layer boundaries, with Spark stage metrics per span.

A span wraps one call into an engine module from the benchmark's side.
While it is open, the driver thread's Spark job group names the span,
so every job the call submits is attributed to it; when it closes, the
span's stages are read from Spark's in-process status store (no UI and
no listener of our own). Spans live in memory and are written once, at
the end of the run. With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

METRIC_FIELDS = ("exec_ms", "tasks", "input_bytes", "shuffle_bytes")


def zero_metrics() -> dict:
    return dict.fromkeys(METRIC_FIELDS, 0)


def sub_metrics(a: dict, b: dict) -> dict:
    """``a - b`` field by field, floored at zero (for spans derived as
    the difference of two measured calls)."""
    return {k: max(0, a[k] - b[k]) for k in METRIC_FIELDS}


def add_metrics(*ms: dict) -> dict:
    return {k: sum(m[k] for m in ms) for k in METRIC_FIELDS}


def p50(xs):
    return statistics.median(xs)


def p75(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4)[2]


def noop(df) -> None:
    """Materialize a DataFrame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(paths) -> list[str]:
    return [os.path.join(d, f) for p in paths for d, _, fs in os.walk(p) for f in fs]


def parquet_bytes(paths) -> int:
    """Bytes of the parquet data files under ``paths``."""
    return sum(os.path.getsize(f) for f in dir_files(paths) if f.endswith(".parquet"))


class Tracer:
    """Spans of one run; ``enabled`` is switched per request so traced
    and untraced requests interleave."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.request = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call; with tracing on, also record its stage metrics
        under a job group of its own and link it to the open parent."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._seq += 1
        rec = {
            "id": self._seq, "name": name, "request": self.request,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._seq}",
        }
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"],
                               self._stack[-1]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["metrics"] = self.group_metrics(rec["group"])
            self.spans.append(rec)

    def group_metrics(self, group: str) -> dict:
        """Executor time, task count and bytes of every completed stage
        of the jobs in ``group`` (a stage shared by several jobs of the
        group counts once; skipped stages did no work)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seen: set[int] = set()
        out = zero_metrics()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            sids = store.job(jid).stageIds()
            it = sids.iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["exec_ms"] += sd.executorRunTime()
                out["tasks"] += sd.numTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return out

    def self_ms(self, rec: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        covered = sum(k["end"] - k["start"] for k in kids)
        return 1000.0 * (rec["end"] - rec["start"] - covered)

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{
            "id": s["id"], "name": s["name"], "parent": s["parent"],
            "request": s["request"],
            "start_ms": round(1000 * (s["start"] - t0), 3),
            "end_ms": round(1000 * (s["end"] - t0), 3),
            "self_ms": round(self.self_ms(s), 3),
            **s["metrics"],
        } for s in self.spans]


class LayerTable:
    """Per-layer accumulator. A span layer collects (self_ms, stage
    metrics) samples and reports the median of each field as
    ``<layer>.self_ms``, ``<layer>.exec_ms``, ...; a plain timing
    collects numbers and reports their median under its own name."""

    def __init__(self):
        self.spans: dict[str, list[tuple[float, dict]]] = {}
        self.values: dict[str, list[float]] = {}

    def add(self, name: str, self_ms: float, metrics: dict) -> None:
        self.spans.setdefault(name, []).append((self_ms, metrics))

    def add_span(self, tracer: Tracer, rec: dict) -> None:
        self.add(rec["name"], tracer.self_ms(rec), rec["metrics"])

    def value(self, name: str, v: float) -> None:
        self.values.setdefault(name, []).append(v)

    def report(self) -> dict:
        out = {name: p50(vs) for name, vs in self.values.items()}
        for name, rows in self.spans.items():
            out[f"{name}.self_ms"] = p50([r[0] for r in rows])
            for k in METRIC_FIELDS:
                out[f"{name}.{k}"] = p50([r[1][k] for r in rows])
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> tuple[int, int]:
    """(ppid, CPU clock ticks) of a process: its user and system time
    plus that of its children already reaped."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    rest = s[s.rindex(")") + 2:].split()  # rest[i] is field i + 3
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree_cpu_ms() -> float:
    """CPU time used so far by this process and every descendant -- the
    JVM and the Python workers it forked -- in ms, at the kernel's
    clock-tick resolution."""
    root = os.getpid()
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, t = _proc_stat(name)
        except (FileNotFoundError, ProcessLookupError):
            continue
        kids.setdefault(ppid, []).append(int(name))
        ticks[int(name)] = t
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += ticks.get(p, 0)
        stack.extend(kids.get(p, []))
    return 1000.0 * total / _TICK


class Clock:
    """Wall and process-tree CPU time of one request."""

    def __enter__(self):
        self.c0 = tree_cpu_ms()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_ms = 1000 * (time.perf_counter() - self.t0)
        self.cpu_ms = tree_cpu_ms() - self.c0
