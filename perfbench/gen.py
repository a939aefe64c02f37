"""Seeded input generators of the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. The engine only ever sees the
files written here; the in-memory arrays returned alongside them are
the ground truth the correctness checks compare against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LANGS = ("en", "de", "fr", "zh")
# staged-file type mix of the ingest corpus (share of distinct files)
TYPE_MIX = (("txt", 0.40), ("md", 0.25), ("html", 0.25), ("pdf", 0.10))


def vocabulary(rng: np.random.Generator, n_words: int = 1500) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def _topic_text(rng, vocab, topic, n_topics, n_words) -> str:
    """Words drawn mostly from one topic's slice of the vocabulary."""
    width = len(vocab) // n_topics
    lo = topic * width
    own = rng.integers(lo, lo + width, n_words)
    anywhere = rng.integers(0, len(vocab), n_words)
    pick = np.where(rng.random(n_words) < 0.7, own, anywhere)
    return " ".join(vocab[i] for i in pick)


def _paragraphs(rng, vocab, topic, n_topics, n_paras) -> list[str]:
    return [
        _topic_text(rng, vocab, topic, n_topics, int(rng.integers(30, 90)))
        for _ in range(n_paras)
    ]


def _file_body(rng, vocab, ext, topic, n_topics) -> bytes:
    paras = _paragraphs(rng, vocab, topic, n_topics, int(rng.integers(3, 9)))
    if ext == "txt":
        return "\n\n".join(paras).encode()
    if ext == "md":
        out = [f"# {vocab[topic]} guide"]
        for i, p in enumerate(paras):
            if i % 2 == 0:
                out.append(f"## {vocab[(topic + i) % len(vocab)]} section {i}")
            out.append(p)
        return "\n\n".join(out).encode()
    if ext == "html":
        body = "".join(f"<p>{p}</p>\n" for p in paras)
        return (f"<html><head><title>{vocab[topic]}</title></head>"
                f"<body><h1>{vocab[topic]}</h1>\n{body}</body></html>").encode()
    # stub pdf: the stub OCR derives pages from the byte length only
    return b"%PDF-1.4\n" + rng.bytes(int(rng.integers(4096, 13000)))


def ingest_corpus(seed: int, root: str, n_files: int,
                  dup_share: float = 0.10, n_topics: int = 12) -> dict:
    """Write a staging directory of ``n_files`` files; about
    ``dup_share`` of them repeat an earlier file's bytes under a new
    name (same extension, so the same file type). Returns the
    generator record plus the per-file bytes for the checks."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    staging = os.path.join(root, "staging")
    os.makedirs(staging)
    n_dup = int(round(n_files * dup_share))
    exts = [e for e, _ in TYPE_MIX]
    probs = [p for _, p in TYPE_MIX]
    files: dict[str, bytes] = {}
    originals: list[tuple[str, bytes]] = []
    for i in range(n_files - n_dup):
        ext = exts[int(rng.choice(len(exts), p=probs))]
        body = _file_body(rng, vocab, ext, int(rng.integers(n_topics)), n_topics)
        name = f"doc{i:05d}.{ext}"
        files[name] = body
        if ext != "pdf":
            originals.append((ext, body))
    for j in range(n_dup):
        ext, body = originals[int(rng.integers(len(originals)))]
        files[f"copy{j:05d}.{ext}"] = body
    for name, body in files.items():
        with open(os.path.join(staging, name), "wb") as f:
            f.write(body)
    queries = [
        _topic_text(rng, vocab, int(rng.integers(n_topics)), n_topics, 6)
        for _ in range(64)
    ]
    counts = {e: sum(n.endswith("." + e) for n in files) for e in exts}
    return {
        "staging": staging,
        "files": files,
        "queries": queries,
        "record": {
            "n_files": len(files),
            "n_distinct_contents": len(set(files.values())),
            "duplicate_files": n_dup,
            "duplicate_share": round(n_dup / len(files), 4),
            "type_mix": counts,
            "staged_bytes": sum(len(b) for b in files.values()),
            "topics": n_topics,
        },
    }


def clustered_vectors(rng, n: int, n_clusters: int,
                      spread: float = 0.35) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm cluster centres plus Gaussian noise, as float32 (the
    stored embedding type). Returns (vectors, cluster ids)."""
    centres = rng.standard_normal((n_clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    cid = rng.integers(0, n_clusters, n)
    v = centres[cid] + spread * rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    return v.astype(np.float32), cid


def _write_embeddings(path: str, ids: np.ndarray, vecs: np.ndarray,
                      labels: np.ndarray) -> None:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, type=pa.int32()),
    }), path)


def vector_corpus(seed: int, root: str, n_vectors: int, n_clusters: int,
                  n_queries: int) -> dict:
    """An ``sf_dir`` holding ``embeddings.parquet`` and a
    ``documents.parquet`` whose doc_id space equals the vec_id space (a
    document's topic is its vector's cluster), plus an external query
    batch near the cluster centres."""
    rng = np.random.default_rng([seed, 2])
    vecs, cid = clustered_vectors(rng, n_vectors + n_queries, n_clusters)
    corpus, qvecs = vecs[:n_vectors], vecs[n_vectors:]
    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    ids = np.arange(n_vectors, dtype=np.int64)
    labels = (cid[:n_vectors] % 8).astype(np.int32)
    _write_embeddings(os.path.join(sf_dir, "embeddings.parquet"),
                      ids, corpus, labels)
    vocab = vocabulary(rng)
    texts = [_topic_text(rng, vocab, int(c), n_clusters, int(rng.integers(20, 60)))
             for c in cid[:n_vectors]]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": texts,
        "lang": [LANGS[int(i)] for i in rng.integers(0, 4, n_vectors)],
        "source": [f"src{int(i)}" for i in rng.integers(0, 50, n_vectors)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    return {
        "sf_dir": sf_dir,
        "ids": ids,
        "vectors": corpus,
        "query_ids": np.arange(n_queries, dtype=np.int64) + 1_000_000,
        "queries": qvecs,
        "record": {
            "n_vectors": n_vectors,
            "dim": DIM,
            "clusters": n_clusters,
            "n_queries": n_queries,
            "n_documents": n_vectors,
            "corpus_bytes": sum(
                os.path.getsize(os.path.join(sf_dir, f))
                for f in os.listdir(sf_dir)),
        },
    }


def serve_stream(seed: int, n_vectors: int, n_clusters: int, rounds: int,
                 append_size: int, serve_size: int, self_hits: int) -> list:
    """Per round: an append batch of fresh vectors (ids continue after
    the corpus) and a serve batch whose last ``self_hits`` queries copy
    vectors of that round's append batch."""
    rng = np.random.default_rng([seed, 3])
    out = []
    next_id = n_vectors
    for r in range(rounds):
        app, cid = clustered_vectors(rng, append_size, n_clusters)
        app_ids = np.arange(next_id, next_id + append_size, dtype=np.int64)
        next_id += append_size
        fresh, _ = clustered_vectors(rng, serve_size - self_hits, n_clusters)
        pick = rng.choice(append_size, self_hits, replace=False)
        qv = np.concatenate([fresh, app[pick]])
        out.append({
            "append_ids": app_ids,
            "append_vectors": app,
            "append_labels": (cid % 8).astype(np.int32),
            "query_ids": np.arange(serve_size, dtype=np.int64)
            + 5_000_000 + r * serve_size,
            "queries": qv,
            "self_hit_ids": app_ids[pick],
        })
    return out


def write_append_batch(path: str, batch: dict) -> None:
    _write_embeddings(path, batch["append_ids"], batch["append_vectors"],
                      batch["append_labels"])


def write_query_batch(path: str, query_ids: np.ndarray,
                      queries: np.ndarray) -> None:
    flat = pa.array(queries.astype(np.float64).reshape(-1), type=pa.float64())
    qv = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float64()))
    pq.write_table(pa.table({
        "query_id": pa.array(query_ids, type=pa.int64()), "qv": qv,
    }), path)
