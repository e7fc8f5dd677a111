"""Environment-drift smoke test: every catalog table loads and has the
expected dtypes under whatever pyspark/parquet-reader this environment ships.

Round-3 postmortem: pyspark moved 3.x→4.1.2 under the repo and the parquet
TIMESTAMP(NANOS) column in `events` started reading as TIMESTAMP_NTZ instead
of the legacy epoch-nanos long, which silently broke 13 queries, the test
suite, and the whole bench.  This file turns any such drift into one failing
five-second test.  Keep it alphabetically first-ish and dependency-free so it
runs early in a plain ``pytest tests/`` sweep.
"""

from __future__ import annotations

import pytest

from lakehouse_loader_spark.catalog import TABLE_NAMES, load_table

SF_DIR = "/root/testdata/sf0.001"

# (name, dtype.simpleString()) per column, post-catalog-normalization.
EXPECTED = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp_ntz"),  # nanos in the file; catalog normalizes to NTZ µs
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_expected_covers_catalog():
    assert sorted(EXPECTED) == sorted(TABLE_NAMES)


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_table_loads_with_expected_dtypes(spark, name):
    df = load_table(spark, SF_DIR, name)
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    assert got == EXPECTED[name], (
        f"{name}: schema drift — the engine's parquet reader changed shape.\n"
        f"got      {got}\nexpected {EXPECTED[name]}"
    )
    # one action so a lazy read error can't hide behind schema-only checks
    assert df.limit(1).count() >= 0


def test_reload_reuses_the_inferred_schema_until_the_files_change(spark, tmp_path):
    """A second load of unchanged table files runs no Spark job (the
    schema inferred by the first load is reused within the session); a
    rewritten table is inferred again."""
    import uuid

    sf = str(tmp_path)
    spark.range(3).selectExpr("cast(id as int) AS r_regionkey").write.parquet(
        f"{sf}/region.parquet"
    )
    assert load_table(spark, sf, "region").columns == ["r_regionkey"]
    sc = spark.sparkContext
    group = f"catalog-reload-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog reload")
    try:
        again = load_table(spark, sf, "region")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert again.count() == 3
    spark.range(2).selectExpr(
        "cast(id as int) AS r_regionkey", "'x' AS r_name"
    ).write.mode("overwrite").parquet(f"{sf}/region.parquet")
    rewritten = load_table(spark, sf, "region")
    assert rewritten.columns == ["r_regionkey", "r_name"]
    assert rewritten.count() == 2
