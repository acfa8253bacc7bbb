"""Link-graph benchmark: one seeded workload per run, one fresh process
per run (as with spark-submit), local[N] with N = min(2, cpus).

    python3 linkbench/run.py --workload cc_checkpoint_resume --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run starts a session, generates the
workload's inputs from the seed (repeated, the median reported), makes
an untimed warm-up solve, then times solves through the engine's public
API, one after another, until ``--seconds`` have passed (at least one);
end-to-end metrics are medians over the timed solves.  Every solve's
output is checked against a numpy oracle after its timing ends.  The
last stdout line is one JSON object.

``--trace 1`` rebinds spans around the engine's public functions and
methods for the first timed solve (tracing.py), reports its per-layer
metrics and the time spent in tracer code, and writes the spans to
``.linkbench_out/``.  DESIGN.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEM = "1g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (the gateway process pyspark launched)."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _start_session(tmp: str):
    """The engine's session factory, with every scratch path inside the
    run's temp dir."""
    from mesos_pregel_spark import session

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    # A small, fixed, pre-touched heap bounds the JVM's footprint; a
    # growable heap makes its peak RSS follow G1's timing-driven resizing
    # (10-17% run-to-run spread; 1% with -Xms = -Xmx pre-touched).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Every JVM (the launcher too) would keep a perf-data file under
    # /tmp/hsperfdata_<user>, outside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return session.get_spark(
        app_name="linkbench",
        cores=CORES,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        },
    )


def _stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _solve_checked(w, spark, tmp, k, tally):
    """One solve plus its output check (untimed).  Returns the Solve, or
    None when the solve raised; failures are counted in ``tally``."""
    tally["attempted"] += 1
    try:
        out = w.solve(spark, tmp, k)
    except Exception:
        traceback.print_exc()
        tally["failed"] += 1
        return None
    if not hasattr(w, "ids"):
        w.expect(spark)
    reason = w.check(out)
    if reason:
        print(f"linkbench: {w.name} solve {k}: output check failed: {reason}", file=sys.stderr)
        tally["failed"] += 1
    return out


def _guard(w, solves) -> None:
    """Steadiness guard: the superstep count must repeat exactly across
    solves of one input and match the oracle's where it has one.  A
    mismatch (e.g. a reduction-order flip near tol) is reported on
    stderr, never hidden; the output check decides correctness."""
    counts = [s.supersteps for s in solves if s is not None]
    want = getattr(w, "oracle_supersteps", None)
    if len(set(counts)) > 1 or (want is not None and counts[0] != want):
        print(f"linkbench: {w.name}: supersteps {counts} per solve, the oracle "
              f"{want}", file=sys.stderr)


def _end_to_end(setup_s: float, solves, rss_mb: float) -> dict:
    """Medians over the timed solves that returned."""
    def med(f):
        return statistics.median(f(s) for s in solves)

    m = {
        "setup_s": (setup_s, "s"),
        "solve_s": (med(lambda s: s.solve_s), "s"),
        "edges_per_s": (med(lambda s: s.prepared_edges * s.supersteps / s.loop_s), "edges/s"),
        "supersteps_per_hour": (med(lambda s: s.supersteps / s.loop_s * 3600.0), "1/h"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, tmp: str) -> dict:
    from linkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]()
    tally = {"attempted": 0, "failed": 0}

    t0 = time.perf_counter()
    spark = _start_session(tmp)
    start_s = time.perf_counter() - t0
    try:
        gen_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup(spark, tmp, args.seed)
            gen_s.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(gen_s)

        t = time.perf_counter()
        w.warm_up(spark, tmp)
        warm_s = time.perf_counter() - t

        if args.trace:
            from linkbench import tracing

            status = tracing.SparkStatus(spark)
            tracer = tracing.Tracer(probe=status.last_job_id, probed=tracing.PROBED)
            tracing.instrument(tracer)
            tracer.run = "solve-0"
            gc0, job0 = status.gc_seconds(), status.last_job_id()

        began = time.perf_counter()
        first = _solve_checked(w, spark, tmp, 0, tally)
        if first is None:
            raise RuntimeError("the first timed solve raised; no metrics to report")

        if args.trace:
            tracer.restore()
            solve_jobs = (job0, status.last_job_id())
            gc_s = status.gc_seconds() - gc0
            layers = tracing.layer_metrics(w, first, tracer, status, start_s, gc_s, solve_jobs)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            out_dir = os.path.join(ROOT, ".linkbench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{w.name}-seed{args.seed}.json")
            tracer.dump(span_file)
            print(f"linkbench: spans written to {span_file}", file=sys.stderr)

        solves = [first]
        while time.perf_counter() - began < args.seconds:
            solves.append(_solve_checked(w, spark, tmp, len(solves), tally))
        _guard(w, solves)
        timed = [s for s in solves if s is not None]
        if not args.trace:
            metrics = _end_to_end(setup_s, timed, _peak_rss_mb(spark))
        print(f"linkbench: {w.name} seed {args.seed}: session {start_s:.2f}s, inputs "
              f"{', '.join(f'{g:.2f}' for g in gen_s)}s, warm-up {warm_s:.2f}s, "
              f"{first.supersteps} supersteps; solves "
              f"{', '.join(f'{o.solve_s:.2f}' for o in timed)}s wall, "
              f"{', '.join(f'{o.cpu_s:.2f}' for o in timed)}s CPU",
              file=sys.stderr)
    finally:
        _stop_session(spark)

    return {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)  # the engine under test: this checkout's sources
    try:
        import mesos_pregel_spark  # noqa: F401
    except ImportError as e:
        print(f"linkbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".linkbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp  # pyspark's gateway handshake
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
