#!/usr/bin/env python3
"""Record ``expected.json``: each ``query_mix`` query's row count and
order-insensitive value hash on the generated corpus.

A result is recorded only if the Spark result matches the query's DuckDB
oracle under the repository's oracle comparison (``tests/_compare.py``).
The oracles of the dedup queries take minutes at larger scales, which is
why the benchmark checks against these recorded digests instead.

    python3 perfbench/record_expected.py

It records every query of ``query_mix.QUERIES`` at the workload's scale
and at its toy scale.  Re-run it whenever the corpus generator
(``gen.VERSION``) or the query list changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import run

    work = os.path.join(run.STATE, f"record-{os.getpid()}")
    run.configure_env(work, run.effective_cpus())
    import duckdb
    from _compare import assert_frames_match

    import gen
    from harness import frame_digest
    from lakehouse_loader_spark import get_spark
    from lakehouse_loader_spark.catalog import TABLE_NAMES
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from query_mix import EXPECTED, QUERIES, QueryMix

    _ensure_loaded()
    expected = {}
    spark = get_spark("perfbench-record", cpus=run.effective_cpus())
    bad = 0
    try:
        for sf in (QueryMix.sf, QueryMix.toy_sf):
            corpus = gen.ensure_corpus(os.path.join(run.STATE, "corpus"), sf)
            con = duckdb.connect()
            for t in TABLE_NAMES:
                p = os.path.join(corpus, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            rec = expected.setdefault(f"{sf:g}", {})
            for q in QUERIES:
                spec = REGISTRY[q]
                t0 = time.perf_counter()
                got = spec.fn(spark, corpus).toPandas()
                t1 = time.perf_counter()
                if spec.oracle is None:
                    print(f"sf{sf:g} {q}: no oracle, not recorded", file=sys.stderr)
                    bad += 1
                    continue
                want = con.execute(spec.oracle).fetchdf()
                t2 = time.perf_counter()
                try:
                    assert_frames_match(got, want, q)
                except AssertionError as exc:
                    print(f"sf{sf:g} {q}: MISMATCH vs oracle: {exc}", file=sys.stderr)
                    bad += 1
                    continue
                rec[q] = list(frame_digest(got))
                print(f"sf{sf:g} {q}: {rec[q]} spark {t1 - t0:.1f}s oracle {t2 - t1:.1f}s",
                      file=sys.stderr)
            con.close()
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
