"""Seeded input generators for the link-graph benchmark.

Every input is a pure function of the workload seed and is written as
parquet under the run's temp dir; the engine only ever sees the files.
Graph generators are numpy (driver-side, seconds at these sizes); the
transcript table comes from the engine's own distributed fixture, which
is the documented synthetic stand-in for real transcript logs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_graph(path: str, src: np.ndarray, dst: np.ndarray, files: int = 8) -> None:
    """(src, dst, weight=1.0) as ``files`` parquet parts, so the scan has
    a fixed task count independent of the engine's parallelism."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(src.size), files)):
        table = pa.table(
            {
                "src": pa.array(src[part], pa.int64()),
                "dst": pa.array(dst[part], pa.int64()),
                "weight": pa.array(np.ones(part.size), pa.float64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _distinct_pairs(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Drop self-loops and parallel edges (vertex ids < n)."""
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def zipf_graph(seed: int, n_vertices: int, edges_per_vertex: int) -> tuple[np.ndarray, np.ndarray]:
    """Web-shaped directed graph: uniform sources, mildly power-law
    in-degree.  A destination's rank is ``floor(n * u**2)`` (density
    ~ rank^-1/2), mapped through a seeded permutation so hubs are
    scattered over the id space.  Self-loops and parallel edges are
    dropped, so the written table is already distinct."""
    rng = np.random.default_rng([seed, 1])
    draws = int(n_vertices * edges_per_vertex * 1.06)  # ~6% collapse as duplicates
    src = rng.integers(0, n_vertices, draws, dtype=np.int64)
    rank = np.floor(n_vertices * rng.random(draws) ** 2).astype(np.int64)
    dst = rng.permutation(n_vertices).astype(np.int64)[rank]
    return _distinct_pairs(src, dst, n_vertices)


def uniform_graph(seed: int, n_vertices: int, edges_per_vertex: float,
                  chain: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Sparse uniform random digraph (|E|/|V| ~ edges_per_vertex);
    connected components treats it as undirected.  ``chain`` > 0 adds a
    path over ids n..n+chain-1 in increasing order: hash-min needs one
    superstep per hop to carry its minimum to the far end, so a chain
    longer than the random part's diameter fixes the superstep count
    for every seed."""
    rng = np.random.default_rng([seed, 2])
    m = int(n_vertices * edges_per_vertex)
    src = rng.integers(0, n_vertices, m, dtype=np.int64)
    dst = rng.integers(0, n_vertices, m, dtype=np.int64)
    src, dst = _distinct_pairs(src, dst, n_vertices)
    path = np.arange(n_vertices, n_vertices + chain, dtype=np.int64)
    return np.concatenate([src, path[:-1]]), np.concatenate([dst, path[1:]])


def write_transcripts(spark, path: str, seed: int, n_conv: int) -> int:
    """Synthetic transcripts from the engine's distributed fixture,
    written as parquet.  Returns the turn count."""
    from mesos_pregel_spark.fixtures import generate_transcripts_dist

    generate_transcripts_dist(spark, n_conv, seed=seed).write.mode("overwrite").parquet(path)
    return pq.ParquetDataset(path).read(columns=["turn_idx"]).num_rows
