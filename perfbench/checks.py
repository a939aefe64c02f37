"""Ground truth for the output checks.

Cosine similarities are recomputed in numpy with the engine's exact
operation order -- a left fold of the products starting from 0.0, a
square root per side, one multiply and one divide -- so the exact
paths must agree with these to the last bit, and ties break by
ascending id exactly as the engine's windows do.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-4 + 1e-12  # one unit in the 4th decimal of a rounded cos_sim


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise left-fold dot products of ``a`` (n x d) with ``b``
    (d,) or (n x d)."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def fold_norms(m: np.ndarray) -> np.ndarray:
    return np.sqrt(fold_dot(m, m))


def cosines(q: np.ndarray, corpus: np.ndarray, corpus_norms=None) -> np.ndarray:
    """cos(q, c) for one query against every corpus row, as
    ``dot(q, c) / (|q| * |c|)``."""
    cn = fold_norms(corpus) if corpus_norms is None else corpus_norms
    return fold_dot(corpus, q) / (np.sqrt(fold_dot(q, q)) * cn)


def exact_topk(q: np.ndarray, corpus: np.ndarray, ids: np.ndarray, k: int,
               corpus_norms=None) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (ids, cos) by descending cosine, ties by ascending id."""
    cos = cosines(q, corpus, corpus_norms)
    order = np.lexsort((ids, -cos))[:k]
    return ids[order], cos[order]


def check_ranked(rows: list[tuple], truth_cos, k: int) -> str | None:
    """One query's ANN rows ``(neighbor_id, rank, cos_sim)``: ranks run
    1..n with n <= k, scores do not increase with rank, and every
    cos_sim equals the numpy cosine of its pair. ``truth_cos`` maps a
    neighbor id to that cosine. Returns a reason on failure."""
    rows = sorted(rows, key=lambda r: r[1])
    if [r[1] for r in rows] != list(range(1, len(rows) + 1)) or len(rows) > k:
        return f"ranks {[r[1] for r in rows]}"
    for (nid, _rank, cs) in rows:
        if abs(cs - truth_cos(nid)) > TOL:
            return f"cos_sim {cs} != {truth_cos(nid):.6f} for id {nid}"
    sims = [r[2] for r in rows]
    if any(b > a + TOL for a, b in zip(sims, sims[1:])):
        return "scores increase with rank"
    return None


def normalize_rows(rows, colnames) -> list[str]:
    """Order-insensitive row image for an engine-vs-oracle compare:
    columns sorted by name, floats to 6 significant digits."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            elif v is None:
                v = "<null>"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)
