"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_ingest_corpus_is_seeded(tmp_path):
    a = gen.ingest_corpus(5, str(tmp_path / "a"), 60)
    b = gen.ingest_corpus(5, str(tmp_path / "b"), 60)
    c = gen.ingest_corpus(6, str(tmp_path / "c"), 60)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a["record"] == b["record"] and a["queries"] == b["queries"]
    rec = a["record"]
    assert rec["n_files"] == 60 and rec["duplicate_files"] == 6
    assert rec["n_distinct_contents"] == 54
    assert sum(rec["type_mix"].values()) == 60


def test_vector_corpus_is_seeded(tmp_path):
    a = gen.vector_corpus(3, str(tmp_path / "a"), 200, 8, 16)
    b = gen.vector_corpus(3, str(tmp_path / "b"), 200, 8, 16)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert np.array_equal(a["queries"], b["queries"])
    assert a["vectors"].dtype == np.float32 and a["vectors"].shape == (200, gen.DIM)
    assert a["record"]["clusters"] == 8


def test_serve_stream_self_hits_copy_appended_vectors():
    rounds = gen.serve_stream(1, 100, 4, 3, 20, 6, 2)
    assert rounds[1]["append_ids"][0] == 120
    for r in rounds:
        appended = {int(i): v for i, v in zip(r["append_ids"], r["append_vectors"])}
        for own, q in zip(r["self_hit_ids"], r["queries"][-2:]):
            assert np.array_equal(appended[int(own)], q)


def test_exact_topk_breaks_ties_by_ascending_id():
    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [2.0, 0.0]])
    ids = np.array([7, 3, 5, 9])
    got_ids, got_cos = checks.exact_topk(np.array([1.0, 0.0]), corpus, ids, 3)
    assert list(got_ids) == [5, 7, 9]
    assert np.allclose(got_cos, 1.0)


def test_fold_dot_is_a_left_fold():
    a = np.array([[1e16, 1.0, -1e16]])
    b = np.ones(3)
    # ((0 + 1e16) + 1) - 1e16 == 0 in IEEE doubles; a pairwise sum is not
    assert checks.fold_dot(a, b)[0] == 0.0


def test_check_ranked():
    truth = {1: 0.9, 2: 0.8}.__getitem__
    assert checks.check_ranked([(1, 1, 0.9), (2, 2, 0.8)], truth, 10) is None
    assert "ranks" in checks.check_ranked([(1, 1, 0.9), (2, 3, 0.8)], truth, 10)
    assert "cos_sim" in checks.check_ranked([(1, 1, 0.95)], truth, 10)
    assert "increase" in checks.check_ranked(
        [(2, 1, 0.8), (1, 2, 0.9)], {1: 0.9, 2: 0.8}.__getitem__, 10)


def test_normalize_rows_ignores_column_and_row_order():
    a = checks.normalize_rows([(1, 0.5), (2, 0.25)], ["a", "b"])
    b = checks.normalize_rows([(0.25, 2), (0.5, 1)], ["b", "a"])
    assert a == b


def test_self_ms_subtracts_children():
    tr = spans.Tracer(spark=None)
    parent = {"id": 1, "parent": None, "start": 0.0, "end": 1.0}
    kids = [{"id": 2, "parent": 1, "start": 0.1, "end": 0.3},
            {"id": 3, "parent": 1, "start": 0.5, "end": 0.6}]
    tr.spans = [parent, *kids]
    assert tr.self_ms(parent) == pytest.approx(700.0)
    assert tr.self_ms(kids[0]) == pytest.approx(200.0)


def test_layer_table_reports_medians():
    t = spans.LayerTable()
    m = spans.zero_metrics()
    for ms, ex in ((10, 1), (30, 3), (20, 2)):
        t.add("x", ms, dict(m, exec_ms=ex))
    t.value("y_ms", 5.0)
    out = t.report()
    assert out["x.self_ms"] == 20 and out["x.exec_ms"] == 2 and out["y_ms"] == 5.0


def test_sub_metrics_floors_at_zero():
    a = dict(spans.zero_metrics(), exec_ms=5, tasks=1)
    b = dict(spans.zero_metrics(), exec_ms=2, tasks=3)
    assert spans.sub_metrics(a, b) == dict(spans.zero_metrics(), exec_ms=3)


def test_benchmark_json_matches_the_metric_catalogue():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.RUNNERS)
    assert [m["name"] for m in bench["end_to_end"]] == list(workloads.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.PER_LAYER)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == workloads.units(m["name"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
