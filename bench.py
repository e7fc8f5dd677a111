"""Benchmark harness: run the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"cold_total_sec": ..., "queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end including the action (count-style
materialization of every result row) but excluding session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time


class _SkipLoader(Exception):
    """Control-flow marker: SPARK_GRAFT_ONLY probes skip the loader block."""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from lakehouse_loader_spark import get_spark
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded

    # Host-load stamp (VERDICT r12 "what's wrong" #1): the official number
    # moved ±15% round-to-round purely with co-tenant load, costing a
    # round of forensic probes to attribute.  Sampling 1-min loadavg
    # BEFORE any Spark work (external pressure) and again at the end makes
    # the number attributable at a glance: start-load >2 on this box means
    # the sweep ran loaded and the totals carry that band.
    try:
        load_start = round(os.getloadavg()[0], 1)
    except OSError:  # not available on every platform
        load_start = None

    _ensure_loaded()
    spark = get_spark("lakehouse-bench")
    # the cores the engine actually runs on (SPARK_GRAFT_CPUS), not the host's
    n_cpus = spark.sparkContext.defaultParallelism

    # SPARK_GRAFT_ONLY=comma,separated,names — iterate on one family
    # without paying the full registry sweep (official runs leave it
    # unset).  Prefix match, so SPARK_GRAFT_ONLY=dedup_ times the family.
    only = [s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if s]
    names = sorted(
        n for n in REGISTRY if not only or any(n.startswith(p) for p in only)
    )

    # Warm-up sweep (JMH-style): run every query once at the smallest scale
    # factor so whole-stage-codegen compilation, python-worker startup, and
    # parquet footer caches are populated before anything is timed — the
    # timed sf runs then measure engine execution, not first-plan Janino
    # compilation (which was dominating the cold numbers for the operator
    # pipelines: 7s cold vs 3.3s steady for dedup_clusters).
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    for name in names:
        try:
            REGISTRY[name].fn(spark, warm_dir).count()
        except Exception as exc:  # a warmup failure must not kill the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
    import gc as _gc

    _gc.collect()
    spark.sparkContext._jvm.System.gc()

    # Load-immune per-query task metrics (r16, VERDICT r15 item 6): the
    # AppStatusStore is populated by Spark's always-on status listener, so
    # reading it is free of extra listener overhead and costs a few py4j
    # calls per query OUTSIDE the timed window.  executorRunTime /
    # executorCpuTime / jvmGcTime accrue only while OUR tasks run, so
    # co-tenant host steal (the r15 "10 regressions" artifact) cannot
    # inflate them — BENCH_DETAIL.json carries them next to each
    # wall-clock, making regression-vs-noise and 8c/32c scaling calls
    # mechanical.  Additive only: the one-line JSON contract is unchanged.
    def _make_metrics_probe():
        try:
            jsc = spark.sparkContext._jsc.sc()
            jstore = jsc.statusStore()
            gw = spark.sparkContext._gateway
            empty_quant = gw.new_array(gw.jvm.double, 0)

            def stage_seq():
                return jstore.stageList(None, False, False, empty_quant, None)

            def probe(watermark: int) -> tuple[int, dict]:
                """Sum task metrics of stages newer than ``watermark``.
                The returned Seq is newest-first, so scanning stops at the
                first already-seen stage — O(stages of this query) py4j
                calls, immune to the store's 1000-stage eviction."""
                try:
                    jsc.listenerBus().waitUntilEmpty()
                except Exception:
                    pass  # bus drain is best-effort; metrics lag ≤ ~ms
                seq = stage_seq()
                run = cpu = gc = 0
                mx = watermark
                for i in range(seq.size()):
                    s = seq.apply(i)
                    sid = s.stageId()
                    if sid <= watermark:
                        break
                    mx = max(mx, sid)
                    run += s.executorRunTime()
                    cpu += s.executorCpuTime()
                    gc += s.jvmGcTime()
                return mx, {
                    "task_ms": int(run),
                    "task_cpu_ms": int(round(cpu / 1e6)),
                    "gc_ms": int(gc),
                }

            seq0 = stage_seq()
            wm0 = seq0.apply(0).stageId() if seq0.size() else -1
            return probe, wm0
        except Exception as exc:  # any API drift degrades to wall-only
            print(f"# task-metrics probe unavailable: {exc}", file=sys.stderr)
            return None, -1

    metrics_probe, _metrics_wm = _make_metrics_probe()
    task_metrics: dict[str, list[dict]] = {}

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        spec = REGISTRY[name]
        # min of 2 runs at the target SF: the first run of a complex plan
        # pays whole-stage-codegen compilation for THIS scale's AQE plan
        # shapes (the sf0.001 warmup compiled different ones); the min is
        # the steady-state engine time and is far more reproducible
        runs = []
        qmetrics: list[dict] = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                # Materialize every output row on the executors without
                # collecting results to the driver.
                n = df.count()
                runs.append(time.perf_counter() - t0)
                if metrics_probe is not None:
                    try:  # outside the timed window; never kills the bench
                        _metrics_wm, m = metrics_probe(_metrics_wm)
                        qmetrics.append(m)
                    except Exception:
                        metrics_probe = None
                spark.catalog.clearCache()
        except Exception as exc:  # one broken query must NOT kill the bench
            # (round-3 postmortem: a single AnalysisException aborted the
            # whole run and the round lost its entire perf signal)
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name][:200]}", file=sys.stderr)
            spark.catalog.clearCache()
            continue
        timings[name] = round(min(runs), 4)
        all_runs[name] = [round(r, 4) for r in runs]
        if qmetrics:
            task_metrics[name] = qmetrics
        print(
            f"# {name}: {timings[name]:.3f}s (runs {[round(r, 3) for r in runs]}, {n} rows)",
            file=sys.stderr,
        )
        # operators may persist shared subplans; drop them so one query's
        # cache doesn't skew the next query's timing or memory.  Then force
        # both GCs OUTSIDE the timed window: dropping the py4j references
        # (python gc) lets the ContextCleaner reclaim checkpoint/shuffle
        # state, and an explicit JVM GC takes the pause now instead of
        # mid-flight in whatever query runs next (observed 5-15s
        # misattributions following checkpoint-heavy queries without this)
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # loader throughput at the same scale — the reference's native metric
    # (it is an EL loader; BASELINE.md frames its numbers around the
    # parquet→Delta/Iceberg path)
    import shutil
    import tempfile

    from lakehouse_loader_spark.sinks.delta import write_delta
    from lakehouse_loader_spark.sinks.iceberg import write_iceberg

    loader: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="bench_loader_")
    # dev affordance: a SPARK_GRAFT_ONLY family probe doesn't need the
    # loader lifecycle — official runs leave SPARK_GRAFT_ONLY unset, so
    # the driver's numbers always include it
    skip_loader = bool(only)
    try:
        if skip_loader:
            raise _SkipLoader
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        n_rows = li.count()

        # best-of-2 for the headline loader writes (VERDICT r12): one
        # loaded-host hiccup in a single-shot write moved the official
        # rows/s by 15%+; the min of two fresh-dir writes is the engine
        # number.  The second iceberg dir is the one the MOR lifecycle
        # below mutates.
        def _best_of(n, fn):
            best = float("inf")
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 4)

        d_runs = [os.path.join(tmp, "delta_w0"), os.path.join(tmp, "delta")]
        i_runs = [os.path.join(tmp, "iceberg_w0"), os.path.join(tmp, "iceberg")]
        d_iter, i_iter = iter(d_runs), iter(i_runs)
        loader["parquet_to_delta_sec"] = _best_of(
            2, lambda: write_delta(li, next(d_iter))
        )
        loader["parquet_to_iceberg_sec"] = _best_of(
            2, lambda: write_iceberg(li, next(i_iter))
        )
        shutil.rmtree(d_runs[0], ignore_errors=True)
        shutil.rmtree(i_runs[0], ignore_errors=True)
        loader["lineitem_rows"] = n_rows
        loader["delta_rows_per_sec"] = round(n_rows / loader["parquet_to_delta_sec"])
        loader["iceberg_rows_per_sec"] = round(n_rows / loader["parquet_to_iceberg_sec"])

        # MOR lifecycle on the just-written table: equality-delete 1000
        # orderkeys, MOR-delete a predicate, append a slice, then read the
        # merged view — proves delete application cost stays linear in the
        # delete set (not quadratic in snapshots) at the same scale the
        # plain loader numbers use
        from lakehouse_loader_spark.sinks.iceberg import (
            delete_from_iceberg,
            equality_delete_iceberg,
            read_iceberg,
        )

        ice_path = os.path.join(tmp, "iceberg")
        t0 = time.perf_counter()
        keys = li.select("l_orderkey").distinct().limit(1000)
        equality_delete_iceberg(spark, ice_path, keys)
        delete_from_iceberg(
            spark, ice_path, "l_quantity < 2", strategy="merge-on-read"
        )
        write_iceberg(li.limit(50_000), ice_path, append=True)
        loader["iceberg_mor_dml_sec"] = round(time.perf_counter() - t0, 4)
        n_merged = read_iceberg(spark, ice_path).count()  # warm footers
        loader["iceberg_mor_read_sec"] = _best_of(
            2, lambda: read_iceberg(spark, ice_path).count()
        )
        loader["iceberg_mor_read_rows"] = n_merged
        loader["iceberg_mor_read_rows_per_sec"] = round(
            n_merged / loader["iceberg_mor_read_sec"]
        )

        # Delta twin: deletion-vector DML + merged read on the delta copy —
        # same predicate so the two formats' MOR numbers compare directly
        from lakehouse_loader_spark.sinks.delta import delete_from_delta, read_delta

        delta_path = os.path.join(tmp, "delta")
        t0 = time.perf_counter()
        delete_from_delta(
            spark, delta_path, "l_quantity < 2", mode="merge-on-read"
        )
        write_delta(li.limit(50_000), delta_path, append=True)
        loader["delta_dv_dml_sec"] = round(time.perf_counter() - t0, 4)
        n_dv = read_delta(spark, delta_path).count()  # warm footers
        loader["delta_dv_read_sec"] = _best_of(
            2, lambda: read_delta(spark, delta_path).count()
        )
        loader["delta_dv_read_rows"] = n_dv
        loader["delta_dv_read_rows_per_sec"] = round(
            n_dv / loader["delta_dv_read_sec"]
        )

        # Iceberg v3 deletion vectors: same predicate as the Delta DV
        # block on a fresh copy, so both formats' DV paths benchmark
        # against identical work (write one puffin DV per target file,
        # then a merged read resolving targets from metadata alone)
        ice_dv_path = os.path.join(tmp, "iceberg_dv")
        write_iceberg(li, ice_dv_path)
        t0 = time.perf_counter()
        delete_from_iceberg(
            spark, ice_dv_path, "l_quantity < 2", strategy="merge-on-read-dv"
        )
        loader["iceberg_dv_dml_sec"] = round(time.perf_counter() - t0, 4)
        n_icedv = read_iceberg(spark, ice_dv_path).count()  # warm footers
        loader["iceberg_dv_read_sec"] = _best_of(
            2, lambda: read_iceberg(spark, ice_dv_path).count()
        )
        loader["iceberg_dv_read_rows"] = n_icedv
        loader["iceberg_dv_read_rows_per_sec"] = round(
            n_icedv / loader["iceberg_dv_read_sec"]
        )
    except _SkipLoader:
        pass
    except Exception as exc:  # loader failure must not kill the query numbers
        errors["__loader__"] = f"{type(exc).__name__}: {exc}"[:500]
        print(f"# loader ERROR: {errors['__loader__'][:200]}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"# loader: {loader}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    try:
        load_end = round(os.getloadavg()[0], 1)
    except OSError:
        load_end = None
    # per-query variance note: a min/max spread past 30% on a >0.5s query
    # marks readings the host perturbed (the detail file carries raw runs)
    noisy = {
        k: v
        for k, v in all_runs.items()
        if max(v) > 0.5 and max(v) > 1.3 * min(v)
    }
    if noisy:
        print(
            f"# variance: {len(noisy)} queries spread >30% across runs "
            f"(host perturbation candidates): "
            f"{sorted(noisy)[:10]}",
            file=sys.stderr,
        )
    payload = {
        "metric": "declared_queries_total_time",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        # first timed run of each query: pays the per-SF codegen and the
        # session-staged artifact builds that the warm min-of-2 hides
        "cold_total_sec": round(sum(v[0] for v in all_runs.values()), 4),
        "queries": timings,
        "loader": loader,
        "sf": sf_val,
        # host attribution (VERDICT r12): start = external pressure before
        # any Spark work; end includes our own tail.  loaded=true means
        # the totals carry a co-tenant band, not a code regression.
        "load": {
            "start": load_start,
            "end": load_end,
            "cpus": n_cpus,
            "loaded": bool(load_start is not None and load_start > 2.0),
            "noisy_queries": len(noisy),
        },
    }
    if errors:
        payload["errors"] = errors
    # Full-precision detail for humans / the judge — including every raw run
    # per query (min vs max makes noise-vs-regression attributable, e.g. the
    # round-2 dedup_ngram_jaccard 11s reading that round 4 showed was a
    # one-off contention artifact).  SPARK_GRAFT_ONLY probe runs write a
    # separate file so a quick family probe can never clobber the committed
    # full-sweep detail (official runs leave SPARK_GRAFT_ONLY unset).
    detail_name = "BENCH_DETAIL_PROBE.json" if only else "BENCH_DETAIL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name), "w") as f:
        json.dump(
            {**payload, "runs": all_runs, "task_metrics": task_metrics},
            f,
            indent=1,
            sort_keys=True,
        )

    # The driver captures only the last ~2000 chars of output and parses the
    # JSON line out of that window, so the line MUST stay well under 2000
    # chars: compact separators, 2-decimal timings, and if still too long,
    # fold the fastest queries into one "other_fast" bucket.
    def render(qs: dict[str, float]) -> str:
        compact_payload = {**payload, "queries": qs, "loader": {
            "delta_rps": loader.get("delta_rows_per_sec"),
            "iceberg_rps": loader.get("iceberg_rows_per_sec"),
            "mor_read_rps": loader.get("iceberg_mor_read_rows_per_sec"),
        }}
        if errors:
            # full tracebacks live in the detail file (detail_name); the
            # JSON line only needs which queries errored (and must stay
            # <1800 chars even in a mass-failure round — cap the name list)
            names = sorted(errors)
            compact_payload["errors"] = names[:12]
            if len(names) > 12:
                compact_payload["errors_n"] = len(names)
        return json.dumps(compact_payload, separators=(",", ":"))

    by_cost = sorted(timings, key=timings.get, reverse=True)
    n_keep = len(by_cost)
    while True:
        compact = {k: round(timings[k], 2) for k in sorted(by_cost[:n_keep])}
        rest = by_cost[n_keep:]
        if rest:
            compact["other_fast_sec"] = round(sum(timings[k] for k in rest), 2)
            compact["other_fast_n"] = len(rest)
        line = render(compact)
        if len(line) <= 1800 or n_keep <= 8:
            break
        n_keep -= 4

    # Stop Spark BEFORE printing so no JVM shutdown logging can land after
    # the JSON line in a merged stdout/stderr capture.
    spark.stop()
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
