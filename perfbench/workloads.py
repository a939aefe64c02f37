"""Workload dispatch and the fixed metric catalogue.

Every run prints the same metric names whatever its workload; a
per-layer metric of a layer the workload never calls reads 0.
"""

from __future__ import annotations

import wl_ingest
import wl_retrieve

RUNNERS = {
    "ingest": wl_ingest.run,
    "retrieve_serve": wl_retrieve.run,
}

END_TO_END = ("setup_s", "build_ms", "batch_cpu_ms", "request_cpu_ms",
              "peak_rss_mb")

SPAN_FIELDS = ("self_ms", "exec_ms", "tasks", "input_bytes", "shuffle_bytes")
SPAN_LAYERS = (
    "ingest.scan", "ingest.extract", "ingest.normalize", "ingest.assemble",
    "ingest.chunk", "ingest.embed", "ingest.write",
    "chat.score",
    "build.lsh", "build.ivf", "build.pq", "build.bm25",
    "retrieve.brute", "retrieve.lsh", "retrieve.ivfpq", "retrieve.bq",
    "rag.dense_topk", "rag.assemble",
    "hybrid.dense_leg", "hybrid.sparse_leg", "hybrid.fuse",
)
PLAIN_LAYERS = (
    # driver-only: no Spark job runs inside it
    "chat.embed_query.self_ms",
    "serve.start_ms", "serve.add_batch_ms", "serve.wal_ms",
    "serve.topk_ms", "serve.upsert_ms",
    "append.add_batch_ms", "append.lsh_ms", "append.pq_ms",
    "ingest.scan_passes", "ingest.dedup_keep_ratio", "ingest.bad_page_frac",
    "ingest.bytes_written",
    "build.index_bytes_per_corpus_byte",
    "retrieve.lsh_candidate_frac", "retrieve.lsh_recall_at_10",
    "retrieve.ivfpq_recall_at_10", "retrieve.bq_recall_at_10",
    "serve.upsert_write_amp", "append.index_files_growth",
    "session.start_s", "session.log_lines", "trace.overhead_ms",
)
PER_LAYER = tuple(f"{layer}.{f}" for layer in SPAN_LAYERS
                  for f in SPAN_FIELDS) + PLAIN_LAYERS


def units(metric: str) -> str:
    """Unit of a metric, from its name."""
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_bytes", ".bytes_written")):
        return "bytes"
    if metric.endswith((".tasks", ".log_lines")):
        return "count"
    return "ratio"
