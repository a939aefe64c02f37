"""End-to-end ingest DAG tests: staging dir of real files -> chunks +
embeddings parquet, hermetic with deterministic stubs (mirrors the
reference's mocked-services test strategy, SURVEY section 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from selfhosted_rag_doc_chat_prototype_spark.operators import ingest
from selfhosted_rag_doc_chat_prototype_spark.sources.binary import (
    scan_binary_files,
    with_file_type,
)

MD = """---
ID: DOC_1
---
# Doc One
hello world content for the first document with enough words here

## Part Two
more content on another topic entirely
"""

HTML = "<html><body><h1>Title</h1><p>Paragraph one text.</p>\n\n<p>Par two.</p></body></html>"


@pytest.fixture(scope="module")
def staging(tmp_path_factory):
    d = tmp_path_factory.mktemp("staging")
    (d / "a.md").write_text(MD)
    (d / "b.txt").write_text("plain text file with some simple words inside it")
    (d / "c.html").write_text(HTML)
    (d / "d.pdf").write_bytes(b"%PDF-1.4 " + b"x" * 9000)
    (d / "e.mp3").write_bytes(b"ID3" + b"y" * 5000)
    (d / "dup.txt").write_text("plain text file with some simple words inside it")
    (d / "weird.xyz").write_bytes(b"\x00\x01\x02")
    return str(d)


def test_format_dispatch(spark, staging):
    files = with_file_type(scan_binary_files(spark, staging))
    types = {r.path.rsplit("/", 1)[-1]: r.file_type for r in files.collect()}
    assert types["a.md"] == "text"
    assert types["b.txt"] == "text"
    assert types["c.html"] == "html"
    assert types["d.pdf"] == "pdf"
    assert types["e.mp3"] == "audio"
    assert types["weird.xyz"] == "unknown"


def test_extract_fans_out_pages(spark, staging):
    files = with_file_type(scan_binary_files(spark, staging))
    pages = ingest.extract_documents(files).collect()
    by_type = {}
    for r in pages:
        by_type.setdefault(r.file_type, []).append(r)
    assert len(by_type["text"]) == 3  # a.md, b.txt, dup.txt
    assert len(by_type["pdf"]) >= 2  # stub multi-page
    assert len(by_type["audio"]) >= 2  # stub segments
    assert "unknown" not in by_type
    # html stripped of tags
    html_text = by_type["html"][0].text
    assert "<p>" not in html_text and "Paragraph one text." in html_text


def test_full_pipeline_writes_and_dedups(spark, staging, tmp_path):
    out = str(tmp_path / "out")
    chunks, embeddings = ingest.ingest_pipeline(spark, staging, out_dir=out)
    cdf = spark.read.parquet(f"{out}/chunks")
    edf = spark.read.parquet(f"{out}/embeddings")
    crows = cdf.collect()
    assert len(crows) > 0
    # content-addressed dedup: b.txt and dup.txt have identical content
    # -> identical chunk ids -> exactly one survives
    ids = [r.id for r in crows]
    assert len(ids) == len(set(ids))
    texts = [r.chunk for r in crows]
    assert sum("plain text file with some simple words" in t for t in texts) == 1
    # passage prefix enrichment (T7)
    assert all(t.startswith("passage: [DOC_") for t in texts)
    # embeddings 1:1 with chunks, unit-norm
    assert edf.count() == cdf.count()
    norms = edf.select(
        F.aggregate(
            F.transform("embedding", lambda x: x * x), F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("n2")
    ).collect()
    assert all(abs(r.n2 - 1.0) < 1e-6 for r in norms)


@pytest.mark.parametrize("partitions", [1, 4])
def test_dedup_winner_is_min_source_file(spark, staging, tmp_path, partitions):
    """b.txt and dup.txt carry identical bytes, so their chunks share id
    and document_id; the kept row must name the same file on every run,
    whatever the shuffle layout."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        chunks, _ = ingest.ingest_pipeline(
            spark, staging, out_dir=str(tmp_path / "out"))
        kept = [r.source_file for r in chunks.collect()
                if "plain text file with some simple words" in r.chunk]
    finally:
        spark.conf.set(key, prev)
    assert kept == ["b.txt"]


def test_ingest_with_out_dir_runs_the_dag_once(spark, staging, tmp_path):
    """With an output directory the staging prefix runs once: the
    normalizer sees each bad page exactly once (a second write pass
    would run it again), and both returned frames are plain scans of
    the written parquet."""
    from selfhosted_rag_doc_chat_prototype_spark.functions import (
        text_quality as tq,
    )

    d = tmp_path / "staging"
    d.mkdir()
    (d / "b.txt").write_text("plain text file with some simple words inside it")
    (d / "noise.txt").write_text("@#$% ^&*( )!~ ### $$$ %%% ^^^ &&& *** (((")
    (d / "d.pdf").write_bytes(b"%PDF-1.4 " + b"x" * 9000)
    pages = ingest.extract_documents(with_file_type(scan_binary_files(spark, str(d))))
    n_bad = pages.filter(tq.is_bad_ocr(F.col("text"))).count()
    assert n_bad >= 1

    seen = spark.sparkContext.accumulator(0)

    def counting_normalizer(texts):
        seen.add(len(texts))
        return texts

    chunks, embeddings = ingest.ingest_pipeline(
        spark, str(d), out_dir=str(tmp_path / "out"),
        normalizer=counting_normalizer)
    assert seen.value == n_bad
    for df in (chunks, embeddings):
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan
        assert "MapInPandas" not in plan
    assert seen.value == n_bad


def test_markdown_structure_flows_through(spark, staging):
    files = with_file_type(scan_binary_files(spark, staging, glob="a.md"))
    pages = ingest.extract_documents(files)
    chunks = ingest.chunk_stage(pages).collect()
    # two sections -> at least two chunks, ids are reference-shaped
    assert len(chunks) >= 2
    assert all(r.id.startswith("DOC_") and "_" in r.id[4:] for r in chunks)
    assert all(r.source_file == "a.md" for r in chunks)


def test_normalize_bypass_only_touches_bad_rows(spark):
    # marker-based spy: closures can't report back from executor
    # workers, so the normalizer tags what it actually processed
    def marking_normalizer(texts):
        return ["NORMALIZED::" + t for t in texts]

    df = spark.createDataFrame(
        [
            ("f1", "text", 1, "perfectly clean readable sentence with many normal words"),
            ("f2", "text", 1, "@#$% ^&*( )!~ ### $$$ %%% ^^^ &&& *** ((("),
        ],
        "path string, file_type string, page int, text string",
    )
    out = {r.path: r.text for r in
           ingest.normalize_stage(df, normalizer=marking_normalizer).collect()}
    # clean row bypassed the normalizer (O1 compute-skipping);
    # only the gibberish row went through it
    assert out["f1"] == "perfectly clean readable sentence with many normal words"
    assert out["f2"].startswith("NORMALIZED::")


def test_page_tagging_and_assembly(spark):
    """T1: pages wrap as ### [INTERNAL_PAGE_n] in 5-page batches and
    assemble into one ordered markdown doc; the chunker then recovers
    true page numbers from the anchors."""
    rows = [("d.pdf", "pdf", p, f"page {p} body", "DOC_0000TEST") for p in (3, 1, 2, 7)]
    df = spark.createDataFrame(
        rows, "path string, file_type string, page int, text string, doc_id string"
    )
    tagged = {r.page: r for r in ingest.tag_pages(df).collect()}
    assert tagged[1].tagged == "### [INTERNAL_PAGE_1]\npage 1 body"
    assert tagged[1].page_batch == 0 and tagged[7].page_batch == 1
    md = ingest.assemble_markdown(ingest.tag_pages(df)).collect()[0]
    assert md.first_page == 1
    assert md.markdown.index("[INTERNAL_PAGE_1]") < md.markdown.index(
        "[INTERNAL_PAGE_7]"
    )
    from selfhosted_rag_doc_chat_prototype_spark.operators.chunking import (
        split_markdown,
    )
    chunks = split_markdown(md.markdown)
    assert {c["page"] for c in chunks} == {1, 2, 3, 7}


def test_fix_mojibake_repairs_latin1_utf8(spark):
    from selfhosted_rag_doc_chat_prototype_spark.functions.text_quality import (
        fix_mojibake,
        is_visibly_corrupt,
    )

    clean = "it\u2019s a caf\u00e9 \u2014 fine"
    broken = clean.encode("utf-8").decode("latin-1")
    df = spark.createDataFrame([(broken,)], "text string").select(
        fix_mojibake(F.col("text")).alias("fixed"),
        is_visibly_corrupt(F.col("text")).alias("was_corrupt"),
    )
    row = df.collect()[0]
    assert row.fixed == clean
    assert row.was_corrupt


def test_embed_token_budget_guard(spark):
    from selfhosted_rag_doc_chat_prototype_spark.operators.embedding import (
        validate_token_budget,
    )

    df = spark.createDataFrame(
        [(1, "ok text"), (2, " ".join(["w"] * 300))], "id long, text string"
    )
    ok, bad = validate_token_budget(df)
    assert [r.id for r in ok.collect()] == [1]
    viol = bad.collect()
    assert [(r.id, r._n_tokens) for r in viol] == [(2, 300)]


def test_chunk_stage_reference_splitter_parity(spark):
    """chunk_stage(splitter="reference") must emit exactly the chunks
    (text, index, page) the boundary-exact parity splitter produces,
    with the reference's mmh3 id scheme -- the end-to-end form of the
    mdsplit goldens."""
    from selfhosted_rag_doc_chat_prototype_spark.functions.hashing import (
        mmh3_chunk_id,
    )
    from selfhosted_rag_doc_chat_prototype_spark.operators.mdsplit import (
        split_markdown_doc_parity,
    )

    text = (
        "# Doc\n### [INTERNAL_PAGE_1] inline anchor content\n"
        + "first page words " * 40
        + "\n### [INTERNAL_PAGE_2]\n" + "second page words " * 40
    )
    doc_id = "DOC_CAFEBABE"
    pages = spark.createDataFrame(
        [("f.md", "text", 1, text, doc_id)],
        "path string, file_type string, page int, text string, doc_id string",
    )
    got = sorted(
        ingest.chunk_stage(pages, splitter="reference").collect(),
        key=lambda r: r.chunk_index,
    )
    chunks, metas = split_markdown_doc_parity(
        text, rel_path="", document_id=doc_id
    )
    assert len(got) == len(chunks) > 2
    for r, c, m in zip(got, chunks, metas):
        assert r.chunk == f"passage: [{doc_id}] {c}"
        assert r.id == mmh3_chunk_id(doc_id, c)
        assert r.chunk_index == m["chunk_index"]
        assert r.page == m["page"]
