#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {pg_load,table_rw,query_mix} \\
        --seed N --seconds S --trace {0,1} [--toy]

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``).  The line before it is a JSON record of the run: the host
stamp and the workload's own metrics.

Everything the run writes stays under ``.perfbench/`` at the repository
root: the generated corpus (kept between runs), a per-run work dir
(deleted at exit) and, with ``--trace 1``, the span dump under
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 7
# the engine defaults to a 24g heap, sized for a dedicated host; 2g holds
# every workload here and keeps a run small on a shared one
DRIVER_MEM = "2g"
# a pass never starts once this much of the measurement has elapsed, so a
# run ends well inside its time limit even when one pass runs long
HARD_CAP_S = 110.0


def effective_cpus() -> int:
    """Cores the engine is given: ``SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (what ``nproc`` reports), never the host total."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def configure_env(work: str, cpus: int) -> str:
    """Point every temp and scratch location of Python, the JVM and Spark
    inside the run's work dir, and size the session for this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    confs = {
        "spark.local.dir": tmp,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10",
    }
    mem = DRIVER_MEM
    os.environ.update(
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(py_path),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=mem,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf {k}={v}" for k, v in confs.items()]
            # a pre-touched heap is resident from the start, so the heap's
            # share of peak_rss_mb is fixed rather than set by when the
            # collector last grew it; no hsperfdata file under the system /tmp
            + [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem} "
               "-XX:+AlwaysPreTouch -XX:-UsePerfData'", "pyspark-shell"]
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return tmp


def workload_class(name: str):
    if name == "pg_load":
        from pg_load import PgLoad

        return PgLoad
    if name == "table_rw":
        from table_rw import TableRW

        return TableRW
    if name == "query_mix":
        from query_mix import QueryMix

        return QueryMix
    raise ValueError(f"unknown workload {name!r}")


def start_session(ctx) -> float:
    """(Re)create the session; returns the seconds ``get_spark`` took."""
    from lakehouse_loader_spark import get_spark

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.set_spark(None)
    with ctx.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=ctx.cpus)
        dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.set_spark(spark)
    return dt


def set_profiler(ctx, on: bool) -> None:
    key = "spark.sql.pyspark.udf.profiler"
    if on:
        ctx.spark.conf.set(key, "perf")
    else:
        ctx.spark.conf.unset(key)


def measure(ctx, wl, args) -> dict:
    """Prepare, set up SETUP_REPS times, warm up if the workload does, then
    run passes; returns the raw timings.  See README.md for the schedule."""
    setup_s, get_spark_s = [], []
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        get_spark_s.append(start_session(ctx))
        wl.setup()
        setup_s.append(time.perf_counter() - t0)
    warm_up_s = None
    if hasattr(wl, "warm_up"):
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
    passes: list[tuple[float, bool]] = []  # (timed seconds, traced)
    walls: list[float] = []
    t_start = time.perf_counter()
    min_passes = max(3, wl.min_passes) if args.trace else wl.min_passes
    while True:
        i = len(passes)
        traced = bool(args.trace) and i % 2 == 0
        ctx.pass_no, ctx.pass_traced, ctx.tracer.enabled = i, traced, traced
        if args.trace:
            # the profiler's per-call cost in the workers (it more than
            # doubles a pgwire load) stays out of the first pass, which is
            # traced for its spans; the Python-worker figures come from the
            # later traced passes
            set_profiler(ctx, traced and i > 0)
        n0, w0 = len(ctx.ops), time.perf_counter()
        wl.run_pass()
        walls.append(time.perf_counter() - w0)
        passes.append((
            sum(o.seconds for o in ctx.ops[n0:] if not o.attrs.get("trace_only")),
            traced,
        ))
        elapsed = time.perf_counter() - t_start
        if len(passes) >= min_passes and (
            elapsed >= args.seconds or elapsed + passes[-1][0] > HARD_CAP_S
        ):
            break
    ctx.tracer.enabled = bool(args.trace)
    ctx.tracer.attach_job_metrics()
    return {"prepare_s": prepare_s, "setup_s": setup_s, "get_spark_s": get_spark_s,
            "warm_up_s": warm_up_s, "passes": passes, "walls": walls}


def call_medians(ctx, cold: bool) -> dict:
    from harness import median

    by_call: dict[str, list[float]] = {}
    for c in ctx.calls:
        if (c["pass"] == 0) == cold:
            by_call.setdefault(c["name"], []).append(c["s"])
    return {k: round(median(v), 4) for k, v in by_call.items()}


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` at the repository root declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(args) -> dict:
    from harness import Context, RssSampler, median

    cpus = effective_cpus()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cpus,
        "load1_start": os.getloadavg()[0],
    }
    tmp = configure_env(work, cpus)
    import pyspark

    import gen
    import pgfixture

    stamp["pyspark"] = pyspark.__version__
    stamp["postgres"] = pgfixture.version()
    cls = workload_class(args.workload)
    stamp["sf"] = cls.toy_sf if args.toy else cls.sf
    corpus = gen.ensure_corpus(os.path.join(STATE, "corpus"), stamp["sf"])
    ctx = Context(work=work, tmp=tmp, corpus=corpus, seed=args.seed,
                  trace=bool(args.trace), cpus=cpus, toy=args.toy)
    wl = cls(ctx)
    try:
        t_run = time.perf_counter()
        with RssSampler() as rss:
            m = measure(ctx, wl, args)
        passes = m["passes"]
        stamp.update(
            load1_end=os.getloadavg()[0],
            run_wall_s=round(time.perf_counter() - t_run, 4),
            prepare_s=round(m["prepare_s"], 4),
            setup_reps_s=[round(s, 4) for s in m["setup_s"]],
            warm_up_s=m["warm_up_s"] and round(m["warm_up_s"], 4),
            passes=[round(s, 4) for s, _ in passes],
            pass_walls=[round(s, 4) for s in m["walls"]],
            peak_rss_parts_mb=rss.peak_parts,
            errors=ctx.errors[:20],
            cold_call_median_s=call_medians(ctx, cold=True),
            warm_call_median_s=call_medians(ctx, cold=False),
        )
        # the gated pass time: the cold pass, or the median pass of a
        # workload that warms up before its passes
        gated = [t for t, _ in passes] if m["warm_up_s"] is not None else [passes[0][0]]
        e2e = {
            "setup_s": median(m["setup_s"]),
            "pass_s": median(gated),
            "peak_rss_mb": rss.peak / 2**20,
        }
        detail = wl.detail()
        if args.trace:
            units = declared_metrics("per_layer")
            values = dict.fromkeys(units, 0.0)
            values.update({k: v for k, v in detail.items() if k in units})
            layers = wl.layers()
            undeclared = sorted(set(layers) - set(units))
            if undeclared:
                raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
            values.update(layers)
            values["session.get_spark_s"] = median(m["get_spark_s"])
            values["failed_ratio"] = ctx.failed / max(1, ctx.attempted)
            values["trace.overhead_s"] = (
                median(s for s, t in passes[1:] if t) - median(s for s, t in passes[1:] if not t)
            )
            ctx.tracer.dump(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}-{ctx.tracer.run_id}.json"))
        else:
            units = declared_metrics("end_to_end")
            values = e2e
        print(json.dumps({**stamp, "end_to_end": e2e, "detail": detail}, default=str))
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    finally:
        wl.close()
        if ctx.spark is not None:
            ctx.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM and wait for it, so no process of this run outlives it.
    The gateway JVM exits when its stdin closes; the Python workers are its
    children and go with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pg_load", "table_rw", "query_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true",
                    help="smallest corpus and fewest commits (the benchmark's own tests)")
    args = ap.parse_args(argv)
    # a terminated run still stops Postgres and the JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    try:
        import lakehouse_loader_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
