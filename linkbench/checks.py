"""Vectorized numpy oracles for the benchmark's output checks.

They run outside the timed window.  Each returns the reference result;
the caller compares it with what the engine collected.  The dict-based
oracle under tests/ implements the same pinned semantics but is far too
slow at benchmark sizes.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq


def pagerank(src: np.ndarray, dst: np.ndarray, damping: float = 0.85,
             tol: float = 1e-6, max_supersteps: int = 100) -> tuple[np.ndarray, np.ndarray, int]:
    """PageRank with the engine's pinned semantics (algos/pagerank.py):
    distinct unweighted edges, 1/N init, dangling mass leaks, halt
    after the first superstep whose max |delta| < tol.

    Returns (vertex ids sorted, ranks, supersteps run)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = ids.size
    s, d = inv[: src.size], inv[src.size:]
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    teleport = (1.0 - damping) / n
    for step in range(1, max_supersteps + 1):
        contrib = np.bincount(d, weights=pr[s] / outdeg[s], minlength=n)
        new = teleport + damping * contrib
        delta = np.abs(new - pr).max()
        pr = new
        if delta < tol:
            break
    return ids, pr, step


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact min-id component labels by undirected label propagation
    with pointer jumping.  Returns (vertex ids sorted, labels)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    a, b = np.concatenate([s, d]), np.concatenate([d, s])
    label = np.arange(ids.size)
    while True:
        new = label.copy()
        np.minimum.at(new, b, label[a])
        new = new[new]  # labels are vertex indices: jump to the label's label
        if np.array_equal(new, label):
            return ids, ids[label]
        label = new


def transcript_edges(path: str) -> tuple[list[str], list[str]]:
    """Distinct (src_actor, dst_actor) pairs of consecutive turns within
    each conversation, self-loops dropped — the actor graph the engine's
    edge extraction must produce, derived with pandas."""
    t = pq.ParquetDataset(path).read(columns=["conv_id", "turn_idx", "role", "tool"]).to_pandas()
    t = t.sort_values(["conv_id", "turn_idx"], kind="stable")
    actor = np.where(t["tool"].notna(), "tool:" + t["tool"].fillna(""), "role:" + t["role"])
    conv = t["conv_id"].to_numpy()
    same = conv[1:] == conv[:-1]
    a, b = actor[:-1][same], actor[1:][same]
    keep = a != b
    pairs = sorted(set(zip(a[keep].tolist(), b[keep].tolist())))
    return [p[0] for p in pairs], [p[1] for p in pairs]


def same_ranks(ids: np.ndarray, ranks: np.ndarray, got_ids: np.ndarray,
               got_ranks: np.ndarray, atol: float = 1e-6) -> str | None:
    """None when the engine's (id, rank) rows match the oracle's vertex
    set and ranks (allclose atol, rtol 1e-6); else a reason."""
    order = np.argsort(got_ids)
    if not np.array_equal(ids, got_ids[order]):
        return f"vertex set differs: {ids.size} expected, {got_ids.size} returned"
    err = np.abs(got_ranks[order] - ranks)
    if not np.allclose(got_ranks[order], ranks, rtol=1e-6, atol=atol):
        return f"ranks differ: max abs error {err.max():.3g}"
    return None
