"""The three benchmark workloads: seeded inputs, the timed solve through
the engine's public API, and the output check.

Each workload's ``setup`` writes its inputs under the run's temp dir
(timed as part of ``setup_s``).  ``solve`` is the timed path; it
returns a ``Solve`` with the collected result and the loop timings.
``warm_up`` runs a capped solve on the same input first (untimed,
unchecked), so the timed solves find most of the JVM's JIT and Spark's
codegen warm.  ``expect`` computes the oracle's result after the first
timed solve, and ``check`` compares a solve with it, returning None or
a reason.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from . import checks, gen

TOL = 1e-6


def cpu_seconds(spark) -> float:
    """CPU seconds used so far by the Spark JVM (all its threads: tasks,
    planning, JIT, GC) and by this driver process."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


@dataclass
class Solve:
    solve_s: float = 0.0
    cpu_s: float = 0.0  # CPU seconds over the same window as solve_s
    loop_s: float = 0.0  # summed over the calls into pagerank()/connected_components()
    supersteps: int = 0
    prepared_edges: int = 0
    result: object = None  # pandas frame collected on the driver
    runs: list = field(default_factory=list)  # PregelRun bookkeeping, one per loop call
    checkpoint_dir: str | None = None


class _PageRank:
    """The PageRank path shared by both PageRank workloads: raw edges ->
    ``prepare_edges(pagerank_program())`` -> ``pagerank(edge_partitions=0)``
    -> collect.  Subclasses give ``raw_edges`` and the oracle's ``ids``,
    ``ranks`` and ``n_edges``."""

    warm_supersteps = 10

    def warm_up(self, spark, tmp: str) -> None:
        self.solve(spark, tmp, "warm", max_supersteps=self.warm_supersteps)

    def solve(self, spark, tmp: str, k, max_supersteps: int = 100) -> Solve:
        from mesos_pregel_spark.algos.pagerank import pagerank, pagerank_program
        from mesos_pregel_spark.plans import program as P

        out = Solve()
        c0, t0 = cpu_seconds(spark), time.perf_counter()
        prepared = P.prepare_edges(spark, self.raw_edges(spark), pagerank_program(tol=TOL))
        try:
            t1 = time.perf_counter()
            ranks, run = pagerank(spark, prepared, tol=TOL, edge_partitions=0,
                                  max_supersteps=max_supersteps)
            t2 = time.perf_counter()
            out.result = ranks.toPandas()
            out.solve_s = time.perf_counter() - t0
            out.cpu_s = cpu_seconds(spark) - c0
            out.loop_s = t2 - t1
            out.runs.append(run)
            out.supersteps = len(run.metrics)
            out.prepared_edges = prepared.count()
        finally:
            prepared.unpersist()
        return out

    def check(self, out: Solve) -> str | None:
        if out.prepared_edges != self.n_edges:
            return f"prepared {out.prepared_edges} edges, the oracle has {self.n_edges}"
        r = out.result
        return checks.same_ranks(self.ids, self.ranks, r["id"].to_numpy(np.int64),
                                 r["pagerank"].to_numpy(np.float64), atol=TOL)


class TranscriptPageRank(_PageRank):
    """Transcripts -> actor edges -> PageRank to 1e-6 (the flagship path)."""

    name = "transcript_pagerank"
    n_conv = 10_000

    def setup(self, spark, tmp: str, seed: int) -> None:
        self.path = os.path.join(tmp, "transcripts")
        self.turns = gen.write_transcripts(spark, self.path, seed, self.n_conv)

    def raw_edges(self, spark):
        from mesos_pregel_spark.functions import edges as E
        from mesos_pregel_spark.sources import transcripts as T

        return E.edges_with_ids(E.build_edges(T.read_transcript_files(spark, self.path)))

    def expect(self, spark) -> None:
        from pyspark.sql import functions as F

        src_names, dst_names = checks.transcript_edges(self.path)
        names = sorted(set(src_names) | set(dst_names))
        # vertex ids are Spark's xxhash64 of the actor key (functions/edges.py)
        hashed = spark.createDataFrame([(n,) for n in names], "actor string")
        ids = dict(hashed.select("actor", F.xxhash64("actor").alias("id")).toPandas().values)
        src = np.array([ids[n] for n in src_names], np.int64)
        dst = np.array([ids[n] for n in dst_names], np.int64)
        self.n_edges = src.size
        self.ids, self.ranks, self.oracle_supersteps = checks.pagerank(src, dst, tol=TOL)


class ZipfPageRank(_PageRank):
    """Web-shaped graph from parquet -> prepare_edges -> PageRank."""

    name = "zipf_pagerank"
    n_vertices = 20_000
    edges_per_vertex = 25

    def setup(self, spark, tmp: str, seed: int) -> None:
        self.src, self.dst = gen.zipf_graph(seed, self.n_vertices, self.edges_per_vertex)
        self.n_edges = self.src.size  # already distinct
        self.path = os.path.join(tmp, "zipf_edges")
        gen.write_graph(self.path, self.src, self.dst)

    def raw_edges(self, spark):
        return spark.read.parquet(self.path)

    def expect(self, spark) -> None:
        self.ids, self.ranks, self.oracle_supersteps = checks.pagerank(self.src, self.dst, tol=TOL)


class CCCheckpointResume:
    """Hash-min CC with a durable checkpoint every 2 supersteps: a
    capped first call (the interruption), then a resume to fixpoint."""

    name = "cc_checkpoint_resume"
    n_vertices = 20_000
    edges_per_vertex = 3.0
    chain = 12  # hash-min then takes 12 supersteps; the random part needs 9-11
    checkpoint_every = 2
    interrupt_at = 5  # supersteps run by the first call
    broadcast_threshold = 10_000

    def setup(self, spark, tmp: str, seed: int) -> None:
        self.src, self.dst = gen.uniform_graph(seed, self.n_vertices, self.edges_per_vertex,
                                               self.chain)
        self.path = os.path.join(tmp, "cc_edges")
        gen.write_graph(self.path, self.src, self.dst)
        # symmetrized distinct pairs: the edge table the loop runs on
        n = self.n_vertices + self.chain
        self.n_edges = np.unique(np.concatenate([self.src * n + self.dst,
                                                 self.dst * n + self.src])).size

    def expect(self, spark) -> None:
        self.ids, self.labels = checks.components(self.src, self.dst)

    def warm_up(self, spark, tmp: str) -> None:
        self.solve(spark, tmp, "warm", caps=(self.interrupt_at,))

    def solve(self, spark, tmp: str, k, caps: tuple[int, ...] = ()) -> Solve:
        """The interrupted call, then the resuming one; ``caps`` gives
        other caps for the calls (the warm-up makes only the first)."""
        from mesos_pregel_spark.algos.cc import connected_components

        out = Solve()
        ckpt = os.path.join(tmp, f"cc_ckpt_{k}")
        c0, t0 = cpu_seconds(spark), time.perf_counter()
        edges = spark.read.parquet(self.path)
        for cap in caps or (self.interrupt_at, 200):
            t1 = time.perf_counter()
            labels, run = connected_components(
                spark, edges, max_supersteps=cap, checkpoint_dir=ckpt,
                checkpoint_every=self.checkpoint_every,
                broadcast_threshold=self.broadcast_threshold,
            )
            t2 = time.perf_counter()
            out.loop_s += t2 - t1
            out.runs.append(run)
        out.result = labels.toPandas()
        out.solve_s = time.perf_counter() - t0
        out.cpu_s = cpu_seconds(spark) - c0
        out.supersteps = sum(len(r.metrics) for r in out.runs)
        out.prepared_edges = self.n_edges
        out.checkpoint_dir = ckpt
        return out

    def check(self, out: Solve) -> str | None:
        first = out.runs[0]
        if len(first.metrics) != self.interrupt_at or first.metrics[-1]["active"] == 0:
            return "the first call was not interrupted mid-run"
        if out.runs[1].metrics and out.runs[1].metrics[0]["superstep"] != self.interrupt_at:
            return "the second call did not resume after the newest checkpoint"
        r = out.result
        got_ids = r["id"].to_numpy(np.int64)
        order = np.argsort(got_ids)
        if not np.array_equal(got_ids[order], self.ids):
            return f"vertex set differs: {self.ids.size} expected, {got_ids.size} returned"
        bad = np.count_nonzero(r["component"].to_numpy(np.int64)[order] != self.labels)
        return f"{bad} vertices with a wrong component label" if bad else None


WORKLOADS = {w.name: w for w in (TranscriptPageRank, ZipfPageRank, CCCheckpointResume)}
