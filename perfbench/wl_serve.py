"""Streaming requests against the persisted indexes of a corpus.

One client alternates two requests, each a fresh ``availableNow``
streaming query over its own file source:

- append: one parquet file of new vectors -> ``index_maintenance``
  (``lsh_append`` + ``pq_append``);
- serve: one parquet file of queries -> ``retrieval_serve`` (LSH top-k,
  upserted into the reply table). The last queries of each serve file
  copy vectors of the append just made and must find themselves at
  rank 1.

A request is timed from the moment its input file is committed (an
atomic rename into the source directory) until ``awaitTermination``
returns.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from spans import Clock, dir_files, parquet_bytes

APPEND_SIZE = 200
SERVE_SIZE = 20
SELF_HITS = 5
K = 10


def _commit(src_dir: str, name: str, write) -> None:
    """Write a file beside the source directory, then rename it in."""
    tmp = os.path.join(os.path.dirname(src_dir), "." + name)
    write(tmp)
    os.replace(tmp, os.path.join(src_dir, name))


def _progress_ms(query, key: str) -> float:
    return float(sum(p["durationMs"].get(key, 0) for p in query.recentProgress))


class _Timed:
    """Wrap a module-level function, collecting its wall times."""

    def __init__(self, module, name: str):
        self.module, self.name = module, name
        self.orig = getattr(module, name)
        self.ms: list[float] = []

    def __call__(self, *a, **kw):
        t = time.perf_counter()
        try:
            return self.orig(*a, **kw)
        finally:
            self.ms.append(1000 * (time.perf_counter() - t))

    def __enter__(self):
        setattr(self.module, self.name, self)
        return self

    def __exit__(self, *exc):
        setattr(self.module, self.name, self.orig)


class StreamingClient:
    """The append/serve client of one corpus ``sf_dir`` whose LSH and
    PQ indexes are already built. ``vecs`` maps every vec_id the
    indexes hold to its vector; appends extend it."""

    def __init__(self, ctx, sf: str, vecs: dict, stream: list):
        from selfhosted_rag_doc_chat_prototype_spark.operators import pq as pqm
        from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim

        self.ctx, self.sf, self.vecs, self.stream = ctx, sf, vecs, stream
        self.spark = ctx.spark
        self.append_src = ctx.path("append_src")
        self.serve_src = ctx.path("serve_src")
        os.makedirs(self.append_src)
        os.makedirs(self.serve_src)
        self.reply = ctx.path("reply")
        self.emb_schema = self.spark.read.parquet(
            os.path.join(sf, "embeddings.parquet")).schema
        self.q_schema = "query_id long, qv array<double>"
        self.lsh_dir = sim._lsh_path(sf, sim.LSH_BITS, sim.LSH_TABLES)
        self.pq_codes_dir = pqm._pq_paths(sf)[1]
        self.files0 = self.index_files()

    def index_files(self) -> int:
        return len(dir_files([self.lsh_dir, self.pq_codes_dir]))

    def append(self, r: int, traced: bool) -> Clock:
        """Append request ``r``: commit its file, run index maintenance
        to completion, then check each new id is indexed exactly once
        in both the LSH and the PQ index."""
        from selfhosted_rag_doc_chat_prototype_spark.streaming import indexing

        ctx, batch = self.ctx, self.stream[r]
        _commit(self.append_src, f"a{r:05d}.parquet",
                lambda p: gen.write_append_batch(p, batch))
        with Clock() as clock:
            q = indexing.index_maintenance(
                self.spark, self.sf,
                self.spark.readStream.schema(self.emb_schema).parquet(self.append_src),
                ctx.path("ckpt_append"))
            q.awaitTermination()
        new = [int(i) for i in batch["append_ids"]]
        why = None
        for name, path, col in (("lsh", self.lsh_dir, "neighbor_id"),
                                ("pq", self.pq_codes_dir, "vec_id")):
            have = pq.read_table(path, columns=[col]).column(col).to_pylist()
            counts = {i: 0 for i in new}
            for i in have:
                if i in counts:
                    counts[i] += 1
            if any(c != 1 for c in counts.values()):
                why = f"{name} index holds new ids {sorted(set(counts.values()))} times"
        ctx.outcome(why is None, f"append {r}: {why}")
        for i, v in zip(new, batch["append_vectors"]):
            self.vecs[i] = v.astype(np.float64)
        if traced:
            ctx.layers.value("append.add_batch_ms", _progress_ms(q, "addBatch"))
        return clock

    def serve(self, r: int, traced: bool) -> Clock:
        """Serve request ``r``: commit its query file, run the serve
        query to completion, then check the replies."""
        from selfhosted_rag_doc_chat_prototype_spark.streaming.retrieval import (
            retrieval_serve,
        )

        ctx, batch = self.ctx, self.stream[r]
        before = parquet_bytes([self.reply])
        _commit(self.serve_src, f"q{r:05d}.parquet",
                lambda p: gen.write_query_batch(p, batch["query_ids"], batch["queries"]))
        with Clock() as clock:
            q = retrieval_serve(
                self.spark, self.sf,
                self.spark.readStream.schema(self.q_schema).parquet(self.serve_src),
                self.reply, ctx.path("ckpt_serve"), k=K)
            started = time.perf_counter()
            q.awaitTermination()
        why = self.check_serve(batch)
        ctx.outcome(why is None, f"serve {r}: {why}")
        if traced:
            after = parquet_bytes([self.reply])
            ctx.layers.value("serve.start_ms", 1000 * (started - clock.t0))
            ctx.layers.value("serve.add_batch_ms", _progress_ms(q, "addBatch"))
            ctx.layers.value("serve.wal_ms", _progress_ms(q, "walCommit")
                             + _progress_ms(q, "commitOffsets"))
            ctx.counters["serve.upsert_write_amp"] = after / max(after - before, 1)
            self.direct_serve_body(r)
        return clock

    def check_serve(self, batch) -> str | None:
        """Every query has ranks 1..n (n <= k) with exact cosines, and
        each copy of a just-appended vector finds itself at rank 1."""
        ids = set(int(x) for x in batch["query_ids"])
        cols = ("query_id", "neighbor_id", "rank", "cos_sim")
        tab = pq.read_table(self.reply, columns=list(cols))
        got: dict[int, list] = {}
        for qid, nid, rank, cs in zip(*(tab.column(c).to_pylist() for c in cols)):
            if qid in ids:
                got.setdefault(qid, []).append((nid, rank, cs))
        if set(got) != ids:
            return f"{len(ids - set(got))} queries without a reply"
        for qid, qv in zip(batch["query_ids"], batch["queries"]):
            qv = qv.astype(np.float64)
            why = checks.check_ranked(
                got[int(qid)],
                lambda nid: float(checks.cosines(qv, self.vecs[nid][None, :])[0]), K)
            if why:
                return f"query {qid}: {why}"
        for qid, own in zip(batch["query_ids"][-SELF_HITS:], batch["self_hit_ids"]):
            top = min(got[int(qid)], key=lambda x: x[1])
            if top[0] != int(own):
                return f"query {qid} copies {own} but rank 1 is {top[0]}"
        return None

    def direct_serve_body(self, r: int) -> None:
        """Split the serve batch body with identical direct calls: the
        LSH top-k, then the upsert into a copy of the reply table."""
        from pyspark.sql import functions as F

        from selfhosted_rag_doc_chat_prototype_spark.operators import similarity as sim
        from selfhosted_rag_doc_chat_prototype_spark.sinks import upsert_table

        spark, ctx = self.spark, self.ctx
        qdf = spark.read.schema(self.q_schema).parquet(
            os.path.join(self.serve_src, f"q{r:05d}.parquet"))
        shadow = ctx.path("reply_shadow")
        shutil.rmtree(shadow, ignore_errors=True)
        shutil.copytree(self.reply, shadow)
        res_path = ctx.path("topk_direct")
        t = time.perf_counter()
        res = sim.topk_cosine(
            sim._vectors(spark, self.sf), qdf, k=K, strategy="lsh",
            cand_signed=sim.lsh_build(spark, self.sf), exclude_self=False)
        res.write.mode("overwrite").parquet(res_path)
        t1 = time.perf_counter()
        keyed = spark.read.parquet(res_path).select(
            F.concat_ws("|", "query_id", "rank").alias("id"), "*")
        upsert_table(spark, keyed, shadow, id_col="id")
        t2 = time.perf_counter()
        ctx.layers.value("serve.topk_ms", 1000 * (t1 - t))
        ctx.layers.value("serve.upsert_ms", 1000 * (t2 - t1))

    def loop(self, rounds: int, deadline: float) -> tuple[list, list]:
        """Alternate append and serve requests until ``rounds`` untraced
        rounds are done or ``deadline`` passes. Returns the clocks of
        the untraced (append, serve) requests."""
        from selfhosted_rag_doc_chat_prototype_spark.streaming import indexing

        app, srv = [], []
        r = 0
        # a traced run completes one untraced and one traced round
        must = 2 if self.ctx.trace else 0
        while len(srv) < rounds and (time.perf_counter() < deadline or r < must):
            traced = self.ctx.traced_round(r)
            if traced:
                with _Timed(indexing, "lsh_append") as tl, \
                        _Timed(indexing, "pq_append") as tp:
                    self.append(r, True)
                self.ctx.layers.value("append.lsh_ms", sum(tl.ms))
                self.ctx.layers.value("append.pq_ms", sum(tp.ms))
                self.serve(r, True)
            else:
                app.append(self.append(r, False))
                srv.append(self.serve(r, False))
            r += 1
        self.ctx.counters["append.index_files_growth"] = self.index_files() / self.files0
        return app, srv
