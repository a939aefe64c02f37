"""Seeded benchmark of the engine's end-to-end paths.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

One run is one fresh ``local[nproc]`` Spark process driven by a single
closed-loop client. Workloads (``BENCHMARK.json`` says why each was
chosen; ``LAYERS.md`` maps layers to metrics and workloads):

- ``ingest``: staging directory -> ``RagEngine.ingest`` ->
  ``load().health()`` -> chat queries over the fresh corpus.
- ``retrieve_serve``: cold LSH, IVF, PQ and BM25 builds on a clustered
  vector corpus, one batched retrieval round through every path, then
  alternating streaming append and serve requests on the same indexes.

Inputs come only from the generators in ``gen.py``, seeded by
``--seed``. Every output is checked; a failed check counts as a failed
request. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics of a traced run. Everything the run writes stays under
``.perfbench/`` in the current directory; the run's scratch directory
and the engine matviews built for its corpus are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

WORKLOADS = ("ingest", "retrieve_serve")
DRIVER_MEMORY = "1g"
OUT_ROOT = ".perfbench"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Process environment for the Spark driver started by this run.
    Must run before pyspark launches its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
        " pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_PACKAGES", None)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p)


def redirect_stderr(path: str) -> int:
    """Point fd 2 (inherited by the JVM) at ``path``; returns a dup of
    the original stderr for fatal messages."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(2, "w", buffering=1, closefd=False)
    return saved


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Context:
    """What a workload gets: the session, tracer, layer table, seed,
    time budget and a fresh scratch directory."""

    def __init__(self, spark, args, work, tracer, layers):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.layers = layers
        self.sf_dirs: list[str] = []
        self.record: dict = {}
        self.counters: dict = {}
        self.reconcile: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def traced_round(self, i: int) -> bool:
        """In a traced run, odd requests are traced and even ones are
        not, so both walls come from the same process."""
        return self.trace and i % 2 == 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    out_root = os.path.abspath(OUT_ROOT)
    work = os.path.join(out_root, "work", run_id)
    os.makedirs(work)
    os.makedirs(os.path.join(out_root, "logs"), exist_ok=True)
    os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
    log_path = os.path.join(out_root, "logs", run_id + ".log")
    prepare_env(work)
    saved_err = redirect_stderr(log_path)

    ticks0 = cpu_ticks()
    spark = ctx = None
    try:
        # an engine that fails to import exits non-zero with no result
        import wl_retrieve
        import workloads
        from spans import LayerTable, Tracer

        from selfhosted_rag_doc_chat_prototype_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_start_s = time.perf_counter() - t0
        ctx = Context(spark, args, work, Tracer(spark), LayerTable())
        ctx.counters["session.start_s"] = session_start_s
        result = workloads.RUNNERS[args.workload](ctx, session_start_s)
        peak = jvm_peak_rss_mb(spark)
    except Exception:
        os.write(saved_err, traceback.format_exc().encode())
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        if ctx is not None:
            for d in wl_retrieve.matview_dirs(ctx.sf_dirs):
                shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    sys.stderr.flush()
    with open(log_path) as f:
        ctx.counters["session.log_lines"] = sum(1 for _ in f)
    e2e = dict(result["e2e"], peak_rss_mb=peak)
    measured = dict(ctx.layers.report(), **ctx.counters)
    layers = {k: measured.get(k, 0.0) for k in workloads.PER_LAYER}
    # time the hypervisor gave the host's CPUs to other guests: runs with
    # a high share are slowed by neighbours, not by the engine
    spent = [b - a for a, b in zip(ticks0, cpu_ticks())]
    named = dict(result["named"], peak_rss_mb=peak,
                 ops_failed_ratio=ctx.failed / max(ctx.attempted, 1),
                 host_steal_pct=100 * spent[7] / max(sum(spent), 1))
    with open(os.path.join(out_root, "traces", run_id + ".json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": host_cpus(), "driver_memory": DRIVER_MEMORY,
            "inputs": ctx.record, "named_metrics": named,
            "end_to_end": e2e, "per_layer": layers,
            "samples": result["samples"],
            "attempted": ctx.attempted, "failed": ctx.failed,
            "failures": ctx.failures, "spans": ctx.tracer.dump(),
        }, f, indent=1, default=float)

    print(f"cores: {host_cpus()}  workload: {args.workload}  seed: {args.seed}"
          f"  inputs: {json.dumps(ctx.record, default=float)}")
    for name, value in named.items():
        print(f"{name}: {value:.6g}")
    for line in ctx.reconcile:
        print(f"reconcile {line}; tracing overhead"
              f" {ctx.counters['trace.overhead_ms']:.0f} ms")
    for what in ctx.failures[:10]:
        print(f"FAILED CHECK: {what}")
    chosen = layers if args.trace else {k: e2e[k] for k in workloads.END_TO_END}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": workloads.units(k)}
                    for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
