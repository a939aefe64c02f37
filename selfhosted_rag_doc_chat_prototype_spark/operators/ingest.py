"""The ingest DAG: the reference's entire 6-worker pipeline
(SURVEY.md section 3.2 -- discovery, claim, extract+normalize, produce,
consume) expressed as ONE batch DataFrame DAG:

    binaryFile scan -> format dispatch (S6) -> extract (S2/S4/S5)
      -> quality gate (F1) -> [LLM-normalize T2, bypassed when clean]
      -> markdown chunk (T4/T6) -> mmh3 ids (T8) -> prefix (T7)
      -> dedup(id)   [O11: dedup BEFORE the expensive embed]
      -> embed (T9) -> chunks + embeddings parquet (K2/K3)

The reference's process choreography -- atomic claims (ST6), Redis
queues + backpressure (ST1/ST2), file-end sentinels (ST3), staging WAL
(K4) -- is deliberately absent: Spark's scheduler, shuffle, and atomic
job commit provide those guarantees (SURVEY section 4, O10).

External-service stages (OCR S3, WhisperX S5, LLM-normalize T2) are
**pluggable callables with deterministic in-container stubs**, exactly
how the reference's own test suite mocks them (SURVEY section 5). The
stub boundary is the ``mapInPandas`` batch -- swapping in a real
endpoint changes no plan shape.

Scale: the DAG has two shuffles, the per-document markdown assembly
(keyed by path) and the dedup (keyed by chunk id -- content-addressed,
so uniformly distributed); everything else is map-only. Embed
happens after dedup, so duplicate content is embedded once. With an
output directory the staging files are read once: the chunks are
written first and the embed stage reads them back from that parquet,
so the extract -> chunk -> dedup prefix never runs a second time.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text_quality as tq
from ..functions.hashing import mmh3_chunk_id, mmh3_doc_id
from ..operators.chunking import WS_CHARS, split_markdown
from ..operators.embedding import embed_text_py
from ..sources.binary import scan_binary_files, with_file_type

_TAG_RE = re.compile(r"<[^>]+>")
# explicit ASCII whitespace class (round-5 tokenization contract):
# the reference's `\n\s*\n+` is Python-unicode \s; pinning the class
# keeps the DuckDB oracle (RE2, whose \s excludes \x0B) byte-aligned.
# Divergence from the reference exists only for \n<unicode-space>\n
# runs, which its own corpus never produces.
_BLANK_RE = re.compile(r"\n[ \t\n\x0B\f\r]*\n+")

CHUNK_COLUMNS = [
    "id", "chunk", "source_file", "document_id", "type",
    "chunk_index", "engine", "hash", "page",
]


def decode_text(raw: bytes) -> str:
    """Charset-detected decode (document_processor.py:25-28): utf-8
    first, latin-1 fallback -- deterministic, no chardet dependency."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def html_to_text(html: str) -> str:
    """Tag strip + blank-line collapse (document_processor.py:21-37).
    Final trim uses the engine's explicit ASCII class (chunking.
    WS_CHARS), not bare .strip(): Unicode whitespace is data, and the
    DuckDB twin trims the identical chr-set."""
    text = _TAG_RE.sub(" ", html)
    text = text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    return _BLANK_RE.sub("\n\n", text).strip(WS_CHARS)


# ---- stub external services (clearly marked; see module docstring) -------

def stub_ocr(raw: bytes, path: str) -> list[tuple[int, str]]:
    """STUB for S3 (Docling/EasyOCR): deterministic fake page text
    derived from content length. Real OCR plugs in here."""
    n_pages = max(1, len(raw) // 4096)
    return [(i + 1, f"[stub-ocr {path.rsplit('/', 1)[-1]} page {i + 1}]")
            for i in range(min(n_pages, 3))]


def stub_transcribe(raw: bytes, path: str) -> list[tuple[int, str]]:
    """STUB for S5 (WhisperX): deterministic fake transcript segments."""
    n_seg = max(1, len(raw) // 2048)
    return [(i, f"[stub-transcript {path.rsplit('/', 1)[-1]} segment {i}]")
            for i in range(min(n_seg, 5))]


def identity_normalizer(texts: list[str]) -> list[str]:
    """STUB for T2 (LLM markdown normalization): identity. The
    reference skips the LLM entirely when quality checks pass
    (gatekeeper_logic.py:348-365); this models the bypass path."""
    return texts


# ---- DAG stages -----------------------------------------------------------

PAGE_BATCH = 5  # GATEKEEPER_BATCH_SIZE (shared/defaults.py:91)


def tag_pages(pages: DataFrame) -> DataFrame:
    """T1: wrap each content unit as ``### [INTERNAL_PAGE_n]\\n<text>``
    and assign the 5-page normalization batch id
    (gatekeeper_logic.py:208-231) -- pure column expressions."""
    return pages.withColumn(
        "tagged",
        F.concat(
            F.lit("### [INTERNAL_PAGE_"), F.col("page"), F.lit("]\n"),
            F.coalesce(F.col("text"), F.lit("")),
        ),
    ).withColumn(
        "page_batch",
        ((F.col("page") - 1) / PAGE_BATCH).cast("int"),
    )


def assemble_markdown(tagged: DataFrame) -> DataFrame:
    """Assemble per-document markdown from tagged pages (the producer's
    one-.md-per-file input, producer_graph.py:205-235): pages ordered,
    anchors preserved so the hierarchical chunker recovers page
    numbers. One shuffle keyed by path; per-key state is the document
    itself (documents are MB-scale, not partition-scale)."""
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("page", "tagged"))),
        lambda x: x["tagged"],
    )
    return tagged.groupBy("path", "file_type", "doc_id").agg(
        F.array_join(ordered, "\n").alias("markdown"),
        F.min("page").alias("first_page"),
    )

def extract_documents(files: DataFrame, ocr=None, transcribe=None) -> DataFrame:
    """Per-format extraction fan-out: one (path, file_type, page, text,
    doc_id) row per page/segment. Text/HTML are decoded inline; PDF and
    media route through the pluggable OCR/transcription backends --
    ``(raw_bytes, path) -> list[(page_or_segment, text)]`` callables
    defaulting to the deterministic stubs; the real Docling/WhisperX
    loaders in :mod:`ingest_plugins` drop in with no plan change. The
    document id is the reference-parity mmh3 of the ORIGINAL file bytes
    (``get_document_id(file_bytes)``, text_processor.py:175-178) --
    computed here, where the bytes still exist, and carried through the
    rest of the DAG."""
    ocr = ocr or stub_ocr
    transcribe = transcribe or stub_transcribe

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, ftype, raw in zip(pdf["path"], pdf["file_type"], pdf["content"]):
                raw = bytes(raw) if raw is not None else b""
                doc_id = mmh3_doc_id(raw)
                if ftype == "text":
                    rows.append((path, ftype, 1, decode_text(raw), doc_id))
                elif ftype == "html":
                    rows.append((path, ftype, 1, html_to_text(decode_text(raw)), doc_id))
                elif ftype == "pdf":
                    rows.extend(
                        (path, ftype, pg, tx, doc_id) for pg, tx in ocr(raw, path)
                    )
                elif ftype in ("audio", "video"):
                    rows.extend(
                        (path, ftype, seg, tx, doc_id)
                        for seg, tx in transcribe(raw, path)
                    )
                # unknown types are dropped (reference: no handler -> failed)
            yield pd.DataFrame(
                rows, columns=["path", "file_type", "page", "text", "doc_id"]
            )

    return files.select("path", "file_type", "content").mapInPandas(
        run, "path string, file_type string, page int, text string, doc_id string"
    )


def normalize_stage(
    pages: DataFrame, normalizer: Callable[[list[str]], list[str]] | None = None,
    batch_size: int = 5,
) -> DataFrame:
    """T2 with the O1 compute-skipping gate: rows that pass the quality
    predicates bypass the (expensive) normalizer entirely; only bad
    pages are batched through it (GATEKEEPER_BATCH_SIZE=5).

    Single pass by design: the gate is a JVM-side flag column and the
    routing happens INSIDE each Arrow batch -- a filter/union split
    would evaluate the upstream extract operator once per branch."""
    normalizer = normalizer or identity_normalizer
    flagged = pages.withColumn("_bad", tq.is_bad_ocr(F.col("text")))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bad_idx = pdf.index[pdf["_bad"].fillna(False)]
            texts = pdf.loc[bad_idx, "text"].fillna("").tolist()
            fixed: list[str] = []
            for i in range(0, len(texts), batch_size):
                fixed.extend(normalizer(texts[i : i + batch_size]))
            out = pdf.copy()
            out.loc[bad_idx, "text"] = fixed
            yield out.drop(columns=["_bad"])

    return flagged.mapInPandas(run, pages.schema)


def chunk_stage(pages: DataFrame, max_chars: int = 600,
                splitter: str = "spark", budget: int = 512) -> DataFrame:
    """Per-document markdown chunking + reference-parity mmh3 ids +
    passage prefixes, fanned out with mapInPandas. Emits the
    parquet_chunks schema (sql/schema.sql:18-29).

    ``splitter="spark"`` (default) uses the engine's char-bounded
    hierarchical splitter; ``splitter="reference"`` routes through
    ``mdsplit.split_markdown_doc_parity`` -- the boundary-exact
    reimplementation of the reference's langchain pipeline -- so chunk
    TEXT and therefore the mmh3 chunk ids (the reference's dedup key)
    reproduce the reference byte for byte under the pinned
    tokenizer."""

    def split_ref(text: str, doc_id: str):
        from .mdsplit import split_markdown_doc_parity

        chunks, metas = split_markdown_doc_parity(
            text, rel_path="", budget=budget, document_id=doc_id
        )
        return [
            {"chunk": c, "chunk_index": m["chunk_index"],
             "page": m["page"]}
            for c, m in zip(chunks, metas)
        ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, ftype, page, text, doc_id in zip(
                pdf["path"], pdf["file_type"], pdf["page"], pdf["text"], pdf["doc_id"]
            ):
                text = text or ""
                pieces = (
                    split_ref(text, doc_id) if splitter == "reference"
                    else split_markdown(text, max_chars=max_chars)
                )
                for c in pieces:
                    cid = mmh3_chunk_id(doc_id, c["chunk"])
                    rows.append((
                        cid,
                        f"passage: [{doc_id}] {c['chunk']}",
                        path.rsplit("/", 1)[-1],
                        doc_id,
                        ftype,
                        c["chunk_index"],
                        "stub" if ftype in ("pdf", "audio", "video") else "native",
                        # wire hash: md5 hexdigest of the chunk text
                        # (producer_graph.py:109)
                        hashlib.md5(c["chunk"].encode()).hexdigest(),
                        int(page) if c["page"] == -1 else int(c["page"]),
                    ))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    schema = (
        "id string, chunk string, source_file string, document_id string,"
        " type string, chunk_index int, engine string, hash string, page int"
    )
    return pages.mapInPandas(run, schema)


def dedup_chunks(chunks: DataFrame) -> DataFrame:
    """One row per chunk id. Files with identical bytes share id and
    document_id but not source_file, so the winner is pinned to
    ``min(source_file)``: the file a citation names is the same on every
    run, whatever the shuffle layout."""
    w_dup = Window.partitionBy("id").orderBy(F.asc("source_file"))
    return (
        chunks.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1).drop("_rn")
    )


def embed_stage(chunks: DataFrame, model=None, batch_size: int = 25) -> DataFrame:
    """T9 over chunk text -> (id, embedding). Runs AFTER dedup (O11)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = model or (lambda texts: [embed_text_py(t) for t in texts])
        for pdf in batches:
            texts = pdf["chunk"].fillna("").tolist()
            vecs: list[list[float]] = []
            for i in range(0, len(texts), batch_size):
                vecs.extend(fn(texts[i : i + batch_size]))
            yield pd.DataFrame({"id": pdf["id"], "embedding": vecs})

    return chunks.select("id", "chunk").mapInPandas(
        run, "id string, embedding array<double>"
    )


def ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest DAG driven from the driver's tables: documents
    become in-flight files (every 5th wrapped as HTML to exercise the
    tag-strip branch), then extract -> quality gate -> chunk ->
    content-addressed ids -> dedup, returning the chunk rows.

    Registered with a FULL oracle since round 5: the mmh3 ids are
    computed in SQL by the exact murmur3_32 twin
    (``functions.hashing.murmur3_32_sql``, vector-tested), and for the
    corpus shape (single-line prose, no markdown headers) the chunk
    text path -- extract -> tag -> assemble -> split -> sub-split --
    reduces to the ``chunk_markdown_docs`` window algebra wrapped in
    the html-strip and passage-prefix transforms, all SQL-expressible.
    The duplicate-id winner is pinned to ``min(source_file)`` so the
    result is well-defined when distinct files carry identical bytes
    (``dropDuplicates`` picks an arbitrary row; the reference's
    INSERT OR REPLACE is equally last-writer-nondeterministic --
    parity on content, determinism on provenance).
    """
    from ..sources.tables import table

    docs = table(spark, sf_dir, "documents")
    is_html = F.col("doc_id") % 5 == 0
    files = docs.select(
        F.concat(
            F.lit("/corpus/doc_"), F.col("doc_id"),
            F.when(is_html, F.lit(".html")).otherwise(F.lit(".txt")),
        ).alias("path"),
        F.when(is_html, F.concat(F.lit("<html><body><p>"), F.col("text"),
                                 F.lit("</p></body></html>")))
        .otherwise(F.col("text")).cast("binary").alias("content"),
        F.length("text").alias("length"),
    )
    # no repartition here: extract/normalize are cheap on this corpus
    # (decode + regex per row) and the heavy chunk stage runs after the
    # assemble_markdown shuffle, which already spreads to
    # spark.sql.shuffle.partitions -- measured 2-4x faster than forcing
    # a binary-content shuffle + 32-way Python worker fan-out up front
    files = with_file_type(files)
    pages = normalize_stage(extract_documents(files))
    docs_md = assemble_markdown(tag_pages(pages)).select(
        "path", "file_type", "doc_id",
        F.col("first_page").alias("page"), F.col("markdown").alias("text"),
    )
    chunks = dedup_chunks(chunk_stage(docs_md))
    return chunks.select(
        "id", "source_file", "document_id", "type", "chunk_index", "page",
        F.length("chunk").alias("chunk_len"),
    )


QUERIES = {"ingest_pipeline_e2e": ingest_e2e}


def _ingest_e2e_oracle_sql() -> str:
    """Full DuckDB twin of :func:`ingest_e2e` for the corpus shape
    (single-line prose, no markdown headers, no front matter):

    - file synthesis + format dispatch: every 5th doc html-wrapped;
    - ``document_id``: exact mmh3 over the ORIGINAL file bytes
      (``murmur3_32_sql``, byte-parity with ``mmh3_doc_id``);
    - extract: the ``html_to_text`` transform chain (tag strip to
      space, the 3 entity unescapes, blank-line collapse, strip) --
      both sides pin the explicit ``[ \\t\\n\\x0B\\f\\r]`` class
      (``chunking.WS_CHARS``), so no ``\\s`` dialect is involved;
    - chunk: after page tagging the single-line body degenerates to
      one (root) section at page 1 whose zero-loss sub-split is exact
      600-char windows (the ``chunk_markdown_docs`` algebra);
    - ids: mmh3 chunk ids in SQL; ``chunk_len`` counts the 24-char
      ``passage: [DOC_xxxxxxxx] `` prefix the chunk column carries;
    - dedup: min-source_file winner per id (matches the Spark side).

    Normalize is the identity stub here (the O1 bypass path), so the
    oracle needs no LLM twin; OCR/transcription branches never fire
    (documents enter as text/html)."""
    from ..functions.hashing import mmh3_chunk_id_sql, mmh3_doc_id_sql

    # == chunking.WS_CHARS: the engine's explicit whitespace class
    ascii_ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    return f"""
        WITH raw AS (
            SELECT doc_id AS src_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN '<html><body><p>' || text
                             || '</p></body></html>'
                        ELSE text END AS file_bytes,
                   CASE WHEN doc_id % 5 = 0 THEN 'html' ELSE 'text'
                        END AS ftype,
                   'doc_' || doc_id
                       || CASE WHEN doc_id % 5 = 0 THEN '.html'
                          ELSE '.txt' END AS source_file,
                   text
            FROM documents
            WHERE text IS NOT NULL
        ),
        ex AS (
            SELECT src_id, ftype, source_file,
                   {mmh3_doc_id_sql('file_bytes')} AS document_id,
                   CASE WHEN ftype = 'html' THEN
                       trim(regexp_replace(
                           replace(replace(replace(
                               regexp_replace(file_bytes,
                                              '<[^>]+>', ' ', 'g'),
                               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                           '\\n[ \\t\\n\\x0B\\f\\r]*\\n+',
                           chr(10) || chr(10), 'g'),
                           {ascii_ws})
                   ELSE text END AS extracted
            FROM raw
        ),
        body AS (
            SELECT *, trim(extracted, {ascii_ws}) AS sect
            FROM ex
        ),
        pieces AS (
            SELECT b.src_id, b.ftype, b.source_file, b.document_id,
                   CAST(s // 600 AS INTEGER) AS chunk_index,
                   substr(b.sect, CAST(s + 1 AS INTEGER), 600) AS piece
            FROM (SELECT * FROM body WHERE length(sect) > 0) b,
                 unnest(range(0, length(b.sect), 600)) AS t(s)
        )
        ,
        idd AS (
            SELECT {mmh3_chunk_id_sql('document_id', 'piece')} AS id,
                   source_file, document_id, ftype AS type, chunk_index,
                   1 AS page,
                   CAST(24 + length(piece) AS INTEGER) AS chunk_len
            FROM pieces
        )
        SELECT id, source_file, document_id, type, chunk_index,
               page, chunk_len
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY id ORDER BY source_file ASC) AS rn
            FROM idd
        ) WHERE rn = 1
    """


ORACLE = {"ingest_pipeline_e2e": _ingest_e2e_oracle_sql()}


def ingest_pipeline(
    spark: SparkSession,
    staging_dir: str,
    out_dir: str | None = None,
    normalizer: Callable[[list[str]], list[str]] | None = None,
    embed_model=None,
    splitter: str = "spark",
) -> tuple[DataFrame, DataFrame]:
    """The full DAG. Returns (chunks, embeddings).

    With ``out_dir`` the DAG runs in one pass over the staging files:
    ``chunks`` is written first, the embed stage reads the written
    chunks back, and both returned frames are scans of the written
    parquet (atomic job commit replaces the reference's staging-WAL +
    sentinel finalize). Without ``out_dir`` both frames stay lazy, and
    each action on them re-runs the DAG. ``splitter="reference"`` chunks
    with the boundary-exact parity splitter (see ``chunk_stage``), so
    ids match what the reference's producer would have written."""
    # binaryFile scans parallelize by file; a staging dir with fewer
    # files than cores under-splits, starving the (genuinely expensive)
    # per-file OCR/transcription stages -- rebalance only then, since
    # the repartition shuffles raw file bytes
    files = with_file_type(scan_binary_files(spark, staging_dir))
    par = spark.sparkContext.defaultParallelism
    if files.rdd.getNumPartitions() < par:
        files = files.repartition(par)
    pages = extract_documents(files)
    pages = normalize_stage(pages, normalizer=normalizer)
    # T1: page anchors + per-doc markdown assembly, so the chunker
    # recovers true page numbers and chunk_index is per-document
    docs_md = assemble_markdown(tag_pages(pages)).select(
        "path", "file_type", "doc_id",
        F.col("first_page").alias("page"), F.col("markdown").alias("text"),
    )
    # O11: content-keyed dedup BEFORE the expensive embed stage
    chunks = dedup_chunks(chunk_stage(docs_md, splitter=splitter))
    if not out_dir:
        return chunks, embed_stage(chunks, model=embed_model)
    chunks.write.mode("overwrite").parquet(f"{out_dir}/chunks")
    chunks = spark.read.parquet(f"{out_dir}/chunks")
    embed_stage(chunks, model=embed_model).write.mode("overwrite") \
        .parquet(f"{out_dir}/embeddings")
    return chunks, spark.read.parquet(f"{out_dir}/embeddings")
