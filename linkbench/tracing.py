"""Outside-in tracing for the traced benchmark run.

``Tracer`` rebinds public functions and methods of the engine at run
time so each call records a span (name, start, end, parent, run id);
nothing inside the engine changes.  Spans are kept in memory and
written as JSON when the benchmark ends.

``SparkStatus`` reads Spark's status store from the driver: the last job
id at the boundaries of probed spans, then, after the solve, the jobs,
stages (task/shuffle/spill counters) and executor GC time of those job
windows, each list fetched as one JSON document over py4j.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    # last Spark job id before / after the call, for probed spans
    jobs: tuple[int, int] | None = None


class Tracer:
    """``probe`` (optional) returns the last Spark job id; it is read at
    both boundaries of the spans named in ``probed``.  ``overhead`` sums
    the time spent in the tracer's own code (bookkeeping and probes),
    i.e. how much tracing lengthened the traced calls."""

    def __init__(self, probe=None, probed: frozenset[str] = frozenset()) -> None:
        self.spans: list[Span] = []
        self.run = ""
        self.overhead = 0.0
        self._probe = probe
        self._probed = probed
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, fn):
        probe = self._probe if name in self._probed else None

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            entered = time.perf_counter()
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            before = probe() if probe else None
            span = Span(sid, name, time.perf_counter(), 0.0, parent, self.run)
            self.spans.append(span)
            self._stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if probe:
                    span.jobs = (before, probe())
                self.overhead += (span.start - entered) + (time.perf_counter() - span.end)

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def function(self, module: str, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every module of the package that
        imported the same function object by name."""
        orig = getattr(importlib.import_module(module), attr)
        wrapped = self.span(name, orig)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.split(".")[0] == module.split(".")[0] and mod.__dict__.get(attr) is orig:
                self._set(mod, attr, wrapped)

    def method(self, cls: type, attr: str, name: str) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            self._set(cls, attr, classmethod(self.span(name, raw.__func__)))
        else:
            self._set(cls, attr, self.span(name, raw))

    def restore(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct child spans."""
        kids = [s for s in self.spans[span.id + 1:] if s.parent == span.id]
        return (span.end - span.start) - sum(k.end - k.start for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def instrument(tracer: Tracer) -> None:
    """Spans around the calls into each engine layer (module prefix in
    the span name is the layer's metric prefix)."""
    from mesos_pregel_spark.plans.checkpoint import CheckpointManager
    from mesos_pregel_spark.plans.pregel import PregelRun

    pkg = "mesos_pregel_spark"
    tracer.function(f"{pkg}.sources.transcripts", "read_transcript_files", "edges.read_transcript_files")
    tracer.function(f"{pkg}.functions.edges", "build_edges", "edges.build_edges")
    tracer.function(f"{pkg}.functions.edges", "edges_with_ids", "edges.edges_with_ids")
    tracer.function(f"{pkg}.plans.program", "prepare_edges", "program.prepare_edges")
    tracer.function(f"{pkg}.plans.program", "pregel", "program.pregel")
    tracer.function(f"{pkg}.plans.truncate", "truncate_plan", "pregel.truncate_plan")
    tracer.function(f"{pkg}.operators.scatter", "scatter", "operators.scatter")
    tracer.function(f"{pkg}.operators.combine", "combine", "operators.combine")
    for attr in ("resume", "materialize", "aggregators", "finish"):
        tracer.method(PregelRun, attr, f"pregel.{attr}")
    for attr in ("write", "read", "latest"):
        tracer.method(CheckpointManager, attr, f"checkpoint.{attr}")
    # the loop entry points: "loop seconds" in the end-to-end metrics
    tracer.function(f"{pkg}.algos.pagerank", "pagerank", "loop.pagerank")
    tracer.function(f"{pkg}.algos.cc", "connected_components", "loop.connected_components")


class SparkStatus:
    """Read-only view of the driver's status store (works with the UI
    disabled).  py4j cannot fill Scala default arguments, so the list
    calls pass the full Java signature."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_job_id(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def jobs(self, after: int, upto: int) -> list[dict]:
        """Jobs with after < jobId <= upto (each lists its stageIds)."""
        jobs = self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))
        return [j for j in jobs if after < j["jobId"] <= upto]

    def stages(self, ids: set[int]) -> list[dict]:
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        stages = self._json(
            self._store.stageList(
                self._jvm.java.util.ArrayList(), False, False, empty,
                self._jvm.java.util.ArrayList(),
            )
        )
        return [s for s in stages if s["stageId"] in ids]

    def gc_seconds(self) -> float:
        execs = self._json(self._store.executorList(True))
        return sum(e["totalGCTime"] for e in execs) / 1000.0

    def window(self, after: int, upto: int) -> dict:
        """Counters of the jobs in (after, upto]: jobs, run stages,
        tasks, shuffle write bytes/records, spill bytes, failed tasks."""
        jobs = self.jobs(after, upto)
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        run = [s for s in self.stages(stage_ids) if s["status"] != "SKIPPED"]
        return {
            "jobs": len(jobs),
            "stages": len(run),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in run),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in run),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run),
            "failed_tasks": sum(s["numFailedTasks"] for s in run),
        }


PROBED = frozenset({"program.prepare_edges", "loop.pagerank", "loop.connected_components"})


def _tail(samples: list[float]) -> tuple[float, float, float]:
    """(p50, pNN, NN): pNN is the highest whole percentile with at least
    10 samples beyond it; below 20 samples no tail percentile is
    resolved and the median stands in (NN = 50)."""
    xs = np.sort(np.asarray(samples, dtype=np.float64))
    pct = float(np.floor(100.0 * (1.0 - 10.0 / xs.size))) if xs.size >= 20 else 50.0
    return float(np.percentile(xs, 50)), float(np.percentile(xs, pct)), pct


def _superstep_times(spans: list[Span]) -> list[float]:
    """A superstep runs from its scatter call (plan building starts) to
    the end of its aggregator collect (the barrier action)."""
    out, begun = [], None
    for s in spans:
        if s.name == "operators.scatter" and begun is None:
            begun = s.start
        elif s.name == "pregel.aggregators" and begun is not None:
            out.append(s.end - begun)
            begun = None
    return out


def _broadcast_supersteps(w, out) -> int:
    """Supersteps whose ``active`` aggregator was at or under the
    broadcast threshold the workload passed (none for PageRank)."""
    limit = getattr(w, "broadcast_threshold", None)
    if limit is None:
        return 0
    return sum(m["active"] <= limit for r in out.runs for m in r.metrics)


def layer_metrics(w, out, tracer: Tracer, status: SparkStatus, start_s: float,
                  gc_s: float, solve_jobs: tuple[int, int]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced solve (spans of run "solve-0")."""
    spans = [s for s in tracer.spans if s.run == "solve-0"]

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.end - s.start for s in named(name))

    def window(ss):
        acc: dict[str, int] = {}
        for s in ss:
            for k, v in status.window(*s.jobs).items():
                acc[k] = acc.get(k, 0) + v
        return acc

    steps = out.supersteps
    loops = named("loop.pagerank") + named("loop.connected_components")
    loop = window(loops)
    prep = named("program.prepare_edges")
    turns = getattr(w, "turns", 0)
    extract_s = total("program.prepare_edges") if turns else 0.0
    writes = named("checkpoint.write")
    write_self = sum(tracer.self_time(s) for s in writes)
    materialize_ids = {s.id for s in named("pregel.materialize")}
    in_materialize = sum(s.end - s.start for s in writes if s.parent in materialize_ids)
    loop_s = sum(s.end - s.start for s in loops)
    barrier_s = total("pregel.aggregators")
    resume_s = total("pregel.resume")
    steps_s = _superstep_times(spans)
    p50, ptail, pct = _tail(steps_s)
    whole = status.window(*solve_jobs)
    return {
        "session.start_s": (start_s, "s"),
        "edges.extract_s": (extract_s, "s"),
        "edges.turns_per_s": (turns / extract_s if turns else 0.0, "1/s"),
        "edges.shuffle_write_bytes": (window(prep)["shuffle_write_bytes"] if turns else 0, "B"),
        "program.prepare_s": (total("program.prepare_edges"), "s"),
        "program.prepared_edges": (out.prepared_edges, "count"),
        "pregel.supersteps": (steps, "count"),
        "pregel.barrier_s": (barrier_s, "s"),
        "pregel.driver_s": (loop_s - barrier_s - write_self - resume_s, "s"),
        "pregel.materialize_s": (total("pregel.materialize") - in_materialize, "s"),
        "pregel.jobs_per_superstep": (loop["jobs"] / steps, "count"),
        "pregel.stages_per_superstep": (loop["stages"] / steps, "count"),
        "pregel.tasks_per_superstep": (loop["tasks"] / steps, "count"),
        "pregel.superstep_p50_s": (p50, "s"),
        "pregel.superstep_ptail_s": (ptail, "s"),
        "pregel.superstep_ptail_pct": (pct, "%"),
        "pregel.superstep_samples": (len(steps_s), "count"),
        "operators.shuffle_write_bytes_per_superstep": (loop["shuffle_write_bytes"] / steps, "B"),
        "operators.shuffle_records_per_edge": (
            loop["shuffle_write_records"] / steps / out.prepared_edges, "ratio"),
        "operators.broadcast_supersteps": (_broadcast_supersteps(w, out), "count"),
        "checkpoint.writes": (len(writes), "count"),
        "checkpoint.write_s": (write_self, "s"),
        "checkpoint.bytes_written": (
            _dir_bytes(out.checkpoint_dir) if out.checkpoint_dir else 0, "B"),
        "checkpoint.resume_s": (resume_s, "s"),
        "jvm.gc_s": (gc_s, "s"),
        "jvm.cpu_s": (out.cpu_s, "s"),
        "jvm.spill_bytes": (whole["spill_bytes"], "B"),
        "jvm.failed_tasks": (whole["failed_tasks"], "count"),
        "trace.overhead_s": (tracer.overhead, "s"),
        "trace.solve_s": (out.solve_s, "s"),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
