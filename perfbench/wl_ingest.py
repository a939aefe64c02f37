"""``ingest`` workload: the write path plus chat over its output.

One round = ``RagEngine.ingest`` of the seeded staging directory into a
fresh output directory, ``RagEngine.load(out).health()``, then chat
queries (``RagEngine.query(text).collect()``) until the run's chat
quota or the time budget runs out. A traced round additionally splits
the ingest call into its public stages by materializing each stage
prefix to the ``noop`` sink and taking differences.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from spans import (Clock, add_metrics, noop, p50, p75, parquet_bytes, sub_metrics,
                   zero_metrics)

N_FILES = 160
WARM_QUERIES = 8
# untraced chat queries per run: a fixed count, so every run's median
# covers the same stretch of the JIT warm-up curve
CHAT_QUERIES = 16
TRACED_CHAT_QUERIES = 4
SAMPLE_ROWS = 16
STAGES = ("scan", "extract", "normalize", "assemble", "chunk", "embed")


def _stage_prefixes(spark, staging):
    """The public stages of ``ingest_pipeline``, composed exactly as it
    composes them, as one DataFrame per prefix."""
    from pyspark.sql import functions as F

    from selfhosted_rag_doc_chat_prototype_spark.operators import ingest as ing
    from selfhosted_rag_doc_chat_prototype_spark.sources.binary import (
        scan_binary_files,
        with_file_type,
    )

    files = with_file_type(scan_binary_files(spark, staging))
    if files.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        files = files.repartition(spark.sparkContext.defaultParallelism)
    pages = ing.extract_documents(files)
    normed = ing.normalize_stage(pages)
    docs = ing.assemble_markdown(ing.tag_pages(normed)).select(
        "path", "file_type", "doc_id",
        F.col("first_page").alias("page"), F.col("markdown").alias("text"),
    )
    raw_chunks = ing.chunk_stage(docs)
    chunks = raw_chunks.dropDuplicates(["id"])
    emb = ing.embed_stage(chunks)
    return {"scan": files, "extract": pages, "normalize": normed,
            "assemble": docs, "chunk": chunks, "embed": emb,
            "raw_chunks": raw_chunks}


class IngestChecks:
    """Expected corpus facts from the generator, and the checks of one
    ingest output and of chat answers over it."""

    def __init__(self, corpus: dict, seed: int):
        from selfhosted_rag_doc_chat_prototype_spark.functions.hashing import (
            mmh3_doc_id,
        )

        self.doc_ids = {mmh3_doc_id(b) for b in corpus["files"].values()}
        self.n_distinct = corpus["record"]["n_distinct_contents"]
        self.rng = np.random.default_rng([seed, 9])

    def check_output(self, out_dir: str, health: dict) -> str | None:
        from selfhosted_rag_doc_chat_prototype_spark.functions.hashing import (
            mmh3_chunk_id,
        )
        from selfhosted_rag_doc_chat_prototype_spark.operators.embedding import (
            embed_text_py,
        )

        ch = pq.read_table(os.path.join(out_dir, "chunks")).to_pydict()
        em = pq.read_table(os.path.join(out_dir, "embeddings")).to_pydict()
        ids, eids = ch["id"], em["id"]
        if len(set(ids)) != len(ids) or len(set(eids)) != len(eids):
            return "duplicate ids"
        if set(ids) != set(eids):
            return "chunks and embeddings not aligned"
        if not health["aligned"] or health["chunks"] != len(ids):
            return f"health {health}"
        docs = set(ch["document_id"])
        if docs != self.doc_ids:
            return f"{len(self.doc_ids - docs)} staged documents yield no chunks"
        if len(docs) != self.n_distinct:
            return f"dedup kept {len(docs)} documents, generator has {self.n_distinct}"
        emb = dict(zip(eids, em["embedding"]))
        for i in self.rng.choice(len(ids), min(SAMPLE_ROWS, len(ids)), replace=False):
            doc, text = ch["document_id"][i], ch["chunk"][i]
            prefix = f"passage: [{doc}] "
            if not text.startswith(prefix):
                return f"chunk {ids[i]} lacks its passage prefix"
            if mmh3_chunk_id(doc, text[len(prefix):]) != ids[i]:
                return f"chunk id {ids[i]} does not recompute"
            if emb[ids[i]] != embed_text_py(text):
                return f"embedding of {ids[i]} does not recompute"
        return None

    @staticmethod
    def load_embeddings(out_dir: str):
        em = pq.read_table(os.path.join(out_dir, "embeddings")).to_pydict()
        ids = np.array(em["id"], dtype=object)
        mat = np.array(em["embedding"], dtype=np.float64)
        return ids, mat, checks.fold_norms(mat)

    @staticmethod
    def check_answer(rows, qvec, emb, k=4) -> str | None:
        """Top-k chat answer vs numpy: same ids in the same order,
        ranks 1..k, rounded scores equal."""
        ids, mat, norms = emb
        cos = checks.cosines(np.asarray(qvec), mat, norms)
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:k]
        got = [r["id"] for r in rows]
        if got != [ids[i] for i in order]:
            return f"answer ids {got} != {[ids[i] for i in order]}"
        if [r["source_n"] for r in rows] != list(range(1, len(rows) + 1)):
            return "source_n not 1..k"
        for r, i in zip(rows, order):
            if abs(r["cos_sim"] - cos[i]) > checks.TOL:
                return f"cos_sim {r['cos_sim']} != {cos[i]:.6f}"
            if not r["citation"].startswith(f"[source{r['source_n']}]("):
                return f"citation {r['citation']!r}"
        return None


def _traced_ingest(ctx, staging, out_dir, staged_bytes):
    """Split one ingest call into stage self times (see module doc);
    returns the call's wall including the tracing bookkeeping.

    Stages up to the dedup run once per scan pass of the call (the call
    writes chunks and then embeddings, recomputing the shared prefix),
    so their per-pass cost is multiplied by the measured pass count;
    ``ingest.write`` is the call minus the two noop materializations."""
    from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine

    tr = ctx.tracer
    # the call runs before the probes, which would otherwise warm it
    t = time.perf_counter()
    with tr.span("ingest.call") as rec:
        RagEngine.ingest(ctx.spark, staging, out_dir)
    wall = 1000 * (time.perf_counter() - t)
    call_ms = 1000 * (rec["end"] - rec["start"])
    call_m = rec["metrics"]
    prefixes = _stage_prefixes(ctx.spark, staging)
    walls, mets = {}, {}
    for st in STAGES:
        with tr.span(f"probe.{st}") as rec:
            noop(prefixes[st])
        walls[st] = 1000 * (rec["end"] - rec["start"])
        mets[st] = rec["metrics"]
    passes = call_m["input_bytes"] / staged_bytes
    reps = max(1, round(passes))
    prev_w, prev_m = 0.0, zero_metrics()
    for st in STAGES:
        k = 1 if st == "embed" else reps
        m = sub_metrics(mets[st], prev_m)
        ctx.layers.add(f"ingest.{st}", k * (walls[st] - prev_w),
                       {f: k * v for f, v in m.items()})
        prev_w, prev_m = walls[st], mets[st]
    both_w = walls["chunk"] + walls["embed"]
    both_m = add_metrics(mets["chunk"], mets["embed"])
    ctx.layers.add("ingest.write", call_ms - both_w, sub_metrics(call_m, both_m))
    ctx.counters["ingest.scan_passes"] = passes
    ctx.counters["ingest.bytes_written"] = parquet_bytes([out_dir])
    if "ingest.dedup_keep_ratio" not in ctx.counters:
        from pyspark.sql import functions as F

        from selfhosted_rag_doc_chat_prototype_spark.functions import (
            text_quality as tq,
        )

        kept = prefixes["chunk"].count()
        ctx.counters["ingest.dedup_keep_ratio"] = kept / prefixes["raw_chunks"].count()
        bad = prefixes["extract"].select(
            F.avg(tq.is_bad_ocr(F.col("text")).cast("double"))).first()[0]
        ctx.counters["ingest.bad_page_frac"] = float(bad)
    return wall


def run(ctx, session_start_s: float) -> dict:
    from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine
    from selfhosted_rag_doc_chat_prototype_spark.operators.embedding import (
        embed_text_py,
    )

    spark = ctx.spark
    t0 = time.perf_counter()
    corpus = gen.ingest_corpus(ctx.seed, ctx.path("corpus"), N_FILES)
    ctx.record.update(corpus["record"])
    expect = IngestChecks(corpus, ctx.seed)
    # warm-up: one ingest of the corpus and a few chats over it, so the
    # JIT and the Python workers are up before anything is timed
    RagEngine.ingest(spark, corpus["staging"], ctx.path("warm_out"))
    eng = RagEngine.load(spark, ctx.path("warm_out"))
    eng.health()
    for text in corpus["queries"][-WARM_QUERIES:]:
        eng.query(text).collect()
    setup_s = session_start_s + time.perf_counter() - t0

    staged = corpus["record"]["staged_bytes"]
    deadline = time.perf_counter() + ctx.seconds
    ingests, healths, chats = [], [], []  # clocks of untraced requests
    traced_ingest_ms = []
    qi = 0
    rnd = 0
    # a traced run completes an untraced, a traced and an untraced round
    must = 3 if ctx.trace else 0
    while time.perf_counter() < deadline or rnd < must:
        traced = ctx.traced_round(rnd)
        ctx.tracer.enabled = traced
        ctx.tracer.request = f"round{rnd}"
        out_dir = ctx.path(f"out{rnd}")
        if traced:
            traced_ingest_ms.append(
                _traced_ingest(ctx, corpus["staging"], out_dir, staged))
        else:
            with Clock() as c:
                RagEngine.ingest(spark, corpus["staging"], out_dir)
            ingests.append(c)
        with Clock() as c:
            eng = RagEngine.load(spark, out_dir)
            health = eng.health()
        healths.append(c)
        why = expect.check_output(out_dir, health)
        ctx.outcome(why is None, f"ingest round {rnd}: {why}")
        emb = expect.load_embeddings(out_dir)
        quota = TRACED_CHAT_QUERIES if traced else CHAT_QUERIES - len(chats)
        for _ in range(quota):
            if time.perf_counter() >= deadline and rnd >= must:
                break
            text = corpus["queries"][qi % len(corpus["queries"])]
            qi += 1
            with Clock() as c:
                with ctx.tracer.span("chat.embed_query") as r1:
                    df = eng.query(text)
                with ctx.tracer.span("chat.score") as r2:
                    rows = df.collect()
            if traced:
                ctx.layers.value("chat.embed_query.self_ms", ctx.tracer.self_ms(r1))
                ctx.layers.add_span(ctx.tracer, r2)
            else:
                chats.append(c)
            why = expect.check_answer(
                [r.asDict() for r in rows], embed_text_py("query: " + text), emb)
            ctx.outcome(why is None, f"chat {text!r}: {why}")
        shutil.rmtree(out_dir, ignore_errors=True)
        rnd += 1
    ctx.tracer.enabled = False

    ingest_ms = [c.wall_ms for c in ingests]
    chat_ms = [c.wall_ms for c in chats]
    if ctx.trace:
        # the mean of the untraced calls on either side of the first
        # traced one stands in for an untraced call at its place
        untraced = (ingest_ms[0] + ingest_ms[1]) / 2
        ctx.counters["trace.overhead_ms"] = traced_ingest_ms[0] - untraced
        stages = sum(v for k, v in ctx.layers.report().items()
                     if k.startswith("ingest.") and k.endswith(".self_ms"))
        ctx.reconcile.append(
            f"ingest: stage self times sum to {stages:.0f} ms, traced call"
            f" {traced_ingest_ms[0]:.0f} ms, untraced {untraced:.0f} ms")
    return {
        "e2e": {
            "setup_s": setup_s,
            "build_ms": p50(ingest_ms),
            "batch_cpu_ms": p50([c.cpu_ms for c in healths]),
            "request_cpu_ms": p50([c.cpu_ms for c in chats]),
        },
        "samples": {name: [[c.wall_ms, c.cpu_ms] for c in clocks]
                    for name, clocks in (("ingest", ingests), ("health", healths),
                                         ("chat", chats))},
        "named": {
            "setup_s": setup_s,
            "ingest_docs_per_s": corpus["record"]["n_files"] / (p50(ingest_ms) / 1000),
            "load_health_ms": p50([c.wall_ms for c in healths]),
            "chat_query_p50_ms": p50(chat_ms),
            "chat_query_p75_ms": p75(chat_ms),
            "chat_query_cpu_p50_ms": p50([c.cpu_ms for c in chats]),
            "ingest_calls": len(ingests),
            "chat_queries": len(chats),
        },
    }
