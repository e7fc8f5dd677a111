"""Every registered query with an oracle must hash-match DuckDB at sf0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded

from tests._compare import assert_frames_match
from tests.conftest import SF_ORACLE

_ensure_loaded()
ORACLE_KEYS = sorted(k for k, spec in REGISTRY.items() if spec.oracle is not None)
ROWS_ONLY_KEYS = sorted(k for k, spec in REGISTRY.items() if spec.oracle is None)


def _python_rdd_scans(df) -> list[str]:
    """The optimized plan's ``LogicalRDD`` leaves whose RDD lineage holds a
    ``PythonRDD``: a list-built frame, whose every action starts Python
    workers (``session.local_frame`` builds a LocalTableScan instead)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [
        leaf.toString()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString()
    ]


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_query_matches_oracle(spark, ddb, key):
    spec = REGISTRY[key]
    df = spec.fn(spark, SF_ORACLE)
    assert _python_rdd_scans(df) == [], key
    spark_pdf = df.toPandas()
    oracle_pdf = ddb.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, key)


def test_every_query_carries_an_oracle():
    """r7 invariant: the whole registry is oracle-checked — a new query
    landing with oracle=None (or a regression re-opening a rows-only gap)
    fails here with the offending keys listed, instead of silently
    weakening the driver's correctness gate."""
    assert ROWS_ONLY_KEYS == [], f"queries without oracles: {ROWS_ONLY_KEYS}"
    assert len(ORACLE_KEYS) == len(REGISTRY)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_query_runs(spark, key):
    # retained for the (currently empty) rows-only tier: a future genuinely
    # SQL-inexpressible query still gets a smoke check here
    spec = REGISTRY[key]
    df = spec.fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
