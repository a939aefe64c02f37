"""``retrieve_serve`` workload: the index and retrieval layers.

On a generated clustered corpus (vectors plus a text table sharing the
id space) a fresh engine process

1. builds the LSH, IVF, PQ and BM25 indexes (cold, timed),
2. runs one batch round: an external query batch through
   ``retrieve(strategy=brute|lsh|ivfpq|bq)``, then the registered
   ``rag_retrieve_citations`` and ``hybrid_fusion_topk``,
3. alternates streaming append and serve requests against the same
   persisted indexes until the time budget runs out (``wl_serve``).

Ingest is absent. Every batch output is checked: brute against the
exact numpy top-k, ANN rows against numpy cosines and a recall floor,
the two registered queries against their DuckDB oracle twins.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
import wl_serve
from spans import Clock, noop, p50, p75, parquet_bytes, sub_metrics

N_VECTORS = 2000
CLUSTERS = 24
N_QUERIES = 32
K = 10
STRATEGIES = ("brute", "lsh", "ivfpq", "bq")
# untraced append + serve rounds per run: a fixed count, so every run's
# medians cover the same stretch of the warm-up curve
STREAM_ROUNDS = 3
# recall@10 floors of the ANN strategies on this corpus shape, about
# 0.05 under the lowest of 20 seeds measured when they were set
# (lsh 0.99, ivfpq 0.80, bq 0.67)
RECALL_FLOOR = {"lsh": 0.95, "ivfpq": 0.75, "bq": 0.6}


def matview_dirs(sf_dirs) -> list[str]:
    """The engine's persisted indexes of these corpora: matview
    directories are named after ``md5(sf_dir)[:8]``."""
    import hashlib

    from selfhosted_rag_doc_chat_prototype_spark.operators.similarity import (
        matview_root,
    )

    root = matview_root()
    if not os.path.isdir(root):
        return []
    tags = [hashlib.md5(d.encode()).hexdigest()[:8] for d in sf_dirs]
    return [os.path.join(root, n) for n in sorted(os.listdir(root))
            if any(t in n for t in tags)]


class BatchChecks:
    def __init__(self, corpus: dict):
        self.ids = corpus["ids"]
        self.mat = corpus["vectors"].astype(np.float64)
        self.norms = checks.fold_norms(self.mat)
        self.queries = corpus["queries"].astype(np.float64)
        self.qids = corpus["query_ids"]
        self.exact = [checks.exact_topk(q, self.mat, self.ids, K, self.norms)
                      for q in self.queries]

    def _by_query(self, rows) -> dict:
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["rank"], r["cos_sim"]))
        return out

    def brute(self, rows) -> str | None:
        got = self._by_query(rows)
        for qid, (ids, cos) in zip(self.qids, self.exact):
            mine = sorted(got.get(int(qid), []), key=lambda x: x[1])
            if [m[0] for m in mine] != [int(i) for i in ids]:
                return f"query {qid}: ids differ from the exact top-{K}"
            if [m[1] for m in mine] != list(range(1, K + 1)):
                return f"query {qid}: ranks {[m[1] for m in mine]}"
            if any(abs(m[2] - c) > checks.TOL for m, c in zip(mine, cos)):
                return f"query {qid}: cos_sim differs from numpy"
        return None

    def ann(self, rows) -> tuple[str | None, float]:
        """Row checks plus recall@k against the exact top-k."""
        got = self._by_query(rows)
        hits = 0
        for qid, q, (ids, _cos) in zip(self.qids, self.queries, self.exact):
            mine = got.get(int(qid), [])
            why = checks.check_ranked(
                mine, lambda nid: float(checks.cosines(
                    q, self.mat[nid][None, :], self.norms[nid:nid + 1])[0]), K)
            if why:
                return f"query {qid}: {why}", 0.0
            hits += len({m[0] for m in mine} & {int(i) for i in ids})
        return None, hits / (K * len(self.qids))


def _oracle_check(sf: str, name: str, rows, cols) -> str | None:
    """Compare a registered query's rows with its DuckDB oracle twin."""
    import duckdb

    from selfhosted_rag_doc_chat_prototype_spark.plans.registry import all_oracles

    con = duckdb.connect()
    try:
        for t in ("embeddings", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf, t + '.parquet')}'")
        res = con.execute(all_oracles()[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    if sorted(ocols) != sorted(cols):
        return f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"
    mine = checks.normalize_rows([tuple(r) for r in rows], cols)
    if mine != checks.normalize_rows(orows, ocols):
        return f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}"
    return None


def build_indexes(ctx, sf: str) -> None:
    """Cold build of the four indexes."""
    from selfhosted_rag_doc_chat_prototype_spark.operators import pq as pqm
    from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim
    from selfhosted_rag_doc_chat_prototype_spark.operators import sparse as sp

    tr = ctx.tracer
    steps = (("build.lsh", lambda: sim.lsh_build(ctx.spark, sf)),
             ("build.ivf", lambda: sim.ivf_build(ctx.spark, sf)),
             ("build.pq", lambda: pqm.pq_build(ctx.spark, sf)),
             ("build.bm25", lambda: sp.term_freqs_cached(ctx.spark, sf)))
    for name, fn in steps:
        with tr.span(name) as rec:
            fn()
        if rec:
            ctx.layers.add_span(tr, rec)


def batch_round(ctx, sf: str, qdf, expect: BatchChecks) -> tuple[dict, dict]:
    """One pass of every batch retrieval path; returns the wall and the
    CPU time of each call, in ms."""
    from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim
    from selfhosted_rag_doc_chat_prototype_spark.plans.registry import all_queries

    spark, tr = ctx.spark, ctx.tracer
    walls, cpus = {}, {}
    for s in STRATEGIES:
        with Clock() as c:
            with tr.span(f"retrieve.{s}") as rec:
                rows = sim.retrieve(spark, sf, qdf, k=K, strategy=s,
                                    exclude_self=False).collect()
        walls[s] = c.wall_ms
        cpus[s] = c.cpu_ms
        if rec:
            ctx.layers.add_span(tr, rec)
        rows = [r.asDict() for r in rows]
        if s == "brute":
            why = expect.brute(rows)
        else:
            why, recall = expect.ann(rows)
            ctx.counters[f"retrieve.{s}_recall_at_10"] = recall
            if why is None and recall < RECALL_FLOOR[s]:
                why = f"recall@{K} {recall:.3f} below floor {RECALL_FLOOR[s]}"
        ctx.outcome(why is None, f"retrieve {s}: {why}")
    registered = all_queries()
    for name, key in (("rag_retrieve_citations", "citations"),
                      ("hybrid_fusion_topk", "hybrid")):
        with Clock() as c:
            with tr.span(name) as rec:
                df = registered[name](spark, sf)
                rows = df.collect()
        walls[key] = c.wall_ms
        cpus[key] = c.cpu_ms
        if rec:
            split_registered(ctx, sf, name, rec)
        why = _oracle_check(sf, name, rows, df.columns)
        ctx.outcome(why is None, why or name)
    return walls, cpus


def split_registered(ctx, sf: str, name: str, whole: dict) -> None:
    """Split a registered query's span with identical direct calls of
    its legs; the remainder is the assembly (citations) or fusion."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from selfhosted_rag_doc_chat_prototype_spark.operators import rag
    from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim
    from selfhosted_rag_doc_chat_prototype_spark.operators import sparse as sp

    spark, tr = ctx.spark, ctx.tracer
    base = sim._vectors(spark, sf)
    queries = base.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    legs = []
    if name == "rag_retrieve_citations":
        with tr.span("rag.dense_topk") as rec:
            noop(sim.topk_cosine(
                base, queries, k=rag.RETRIEVER_TOP_K, strategy="lsh",
                cand_signed=lambda: sim.lsh_build(spark, sf)))
        legs.append(rec)
        rest = "rag.assemble"
    else:
        with tr.span("hybrid.dense_leg") as rec:
            noop(sim.topk_cosine(
                base, queries, k=sim.DENSE_PREFETCH, strategy="lsh",
                pre_round=6, out_decimals=6,
                cand_signed=lambda: sim.lsh_build(spark, sf)))
        legs.append(rec)
        ws = Window.partitionBy("query_id").orderBy(
            F.desc("sparse"), F.asc("neighbor_id"))
        with tr.span("hybrid.sparse_leg") as rec:
            noop(sp.bm25_scores(spark, sf, sim.N_QUERIES)
                  .withColumn("sr", F.row_number().over(ws))
                  .filter(F.col("sr") <= sim.SPARSE_PREFETCH))
        legs.append(rec)
        rest = "hybrid.fuse"
    remainder = 1000 * (whole["end"] - whole["start"])
    metrics = whole["metrics"]
    for rec in legs:
        ctx.layers.add_span(tr, rec)
        remainder -= 1000 * (rec["end"] - rec["start"])
        metrics = sub_metrics(metrics, rec["metrics"])
    ctx.layers.add(rest, remainder, metrics)


def lsh_candidate_frac(ctx, sf: str, qdf, n_vectors: int) -> float:
    """Candidate pairs the LSH bucket join emits, per query x corpus."""
    from pyspark.sql import functions as F

    from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim

    q = qdf.select("query_id", "qv")
    idx = sim.lsh_build(ctx.spark, sf)
    pairs = sim.lsh_bucket_join(q, idx.select("neighbor_id", "cv"),
                                cand_signed=idx).count()
    n_q = q.agg(F.count("*")).first()[0]
    return pairs / (n_q * n_vectors)


def run(ctx, session_start_s: float) -> dict:
    spark = ctx.spark
    t0 = time.perf_counter()
    corpus = gen.vector_corpus(ctx.seed, ctx.path("corpus"), N_VECTORS,
                               CLUSTERS, N_QUERIES)
    stream = gen.serve_stream(ctx.seed, N_VECTORS, CLUSTERS, 2 * STREAM_ROUNDS,
                              wl_serve.APPEND_SIZE, wl_serve.SERVE_SIZE,
                              wl_serve.SELF_HITS)
    sf = corpus["sf_dir"]
    ctx.sf_dirs.append(sf)
    qpath = ctx.path("queries.parquet")
    gen.write_query_batch(qpath, corpus["query_ids"], corpus["queries"])
    qdf = spark.read.parquet(qpath)
    expect = BatchChecks(corpus)
    ctx.record.update(corpus["record"], append_size=wl_serve.APPEND_SIZE,
                      serve_size=wl_serve.SERVE_SIZE,
                      self_hits=wl_serve.SELF_HITS)
    setup_s = session_start_s + time.perf_counter() - t0

    ctx.tracer.enabled, ctx.tracer.request = ctx.trace, "build"
    with Clock() as build:
        build_indexes(ctx, sf)
    ctx.tracer.enabled = False
    walls, cpus = batch_round(ctx, sf, qdf, expect)
    if ctx.trace:
        ctx.counters["build.index_bytes_per_corpus_byte"] = (
            parquet_bytes(matview_dirs([sf])) / corpus["record"]["corpus_bytes"])
        ctx.counters["retrieve.lsh_candidate_frac"] = lsh_candidate_frac(
            ctx, sf, qdf, N_VECTORS)
        # untraced, traced, untraced: the mean of the two untraced walls
        # stands in for an untraced round at the traced round's place
        ctx.tracer.enabled, ctx.tracer.request = True, "batch"
        traced = sum(batch_round(ctx, sf, qdf, expect)[0].values())
        ctx.tracer.enabled = False
        after = sum(batch_round(ctx, sf, qdf, expect)[0].values())
        ctx.counters["trace.overhead_ms"] = traced - (sum(walls.values()) + after) / 2
        ctx.reconcile.append(
            f"build: span self times sum to {_span_sum(ctx, 'build.'):.0f} ms,"
            f" build wall {build.wall_ms:.0f} ms")
        ctx.reconcile.append(
            f"batch: span self times sum to "
            f"{_span_sum(ctx, 'retrieve.', 'rag.', 'hybrid.'):.0f} ms, traced round"
            f" {traced:.0f} ms, untraced {sum(walls.values()):.0f} and {after:.0f} ms")

    vecs = {int(i): v.astype(np.float64)
            for i, v in zip(corpus["ids"], corpus["vectors"])}
    client = wl_serve.StreamingClient(ctx, sf, vecs, stream)
    app, srv = client.loop(STREAM_ROUNDS, time.perf_counter() + ctx.seconds)
    # requests alternate 1:1, so the mean request costs the mean of the
    # two kinds' medians
    request_cpu = (p50([c.cpu_ms for c in app]) + p50([c.cpu_ms for c in srv])) / 2

    named = {
        "setup_s": setup_s,
        "index_build_s": build.wall_ms / 1000,
        **{f"{s}_ms_per_query": walls[s] / N_QUERIES for s in STRATEGIES},
        "rag_citations_ms_per_query": walls["citations"] / _registered_queries(),
        "hybrid_fusion_ms_per_query": walls["hybrid"] / _registered_queries(),
        "batch_round_ms": sum(walls.values()),
        "batch_round_cpu_ms": sum(cpus.values()),
        "serve_p50_ms": p50([c.wall_ms for c in srv]),
        "serve_p75_ms": p75([c.wall_ms for c in srv]),
        "append_p50_ms": p50([c.wall_ms for c in app]),
        "append_cpu_p50_ms": p50([c.cpu_ms for c in app]),
        "serve_cpu_p50_ms": p50([c.cpu_ms for c in srv]),
        "streaming_rounds": len(srv),
        **{f"{s}_recall_at_10": ctx.counters[f"retrieve.{s}_recall_at_10"]
           for s in RECALL_FLOOR},
    }
    return {
        "e2e": {
            "setup_s": setup_s,
            "build_ms": build.wall_ms,
            "batch_cpu_ms": sum(cpus.values()),
            "request_cpu_ms": request_cpu,
        },
        "samples": {
            "build": [build.wall_ms, build.cpu_ms],
            "batch": {k: [walls[k], cpus[k]] for k in walls},
            "append": [[c.wall_ms, c.cpu_ms] for c in app],
            "serve": [[c.wall_ms, c.cpu_ms] for c in srv],
        },
        "named": named,
    }


def _registered_queries() -> int:
    """Query count of the registered retrieval queries."""
    from selfhosted_rag_doc_chat_prototype_spark.operators.similarity import (
        N_QUERIES as registered,
    )

    return registered


def _span_sum(ctx, *prefixes) -> float:
    return sum(v for k, v in ctx.layers.report().items()
               if k.startswith(prefixes) and k.endswith(".self_ms"))
