"""Table catalog over the driver-provided parquet test tables.

The reference's source stage learns its schema by *preparing* the query
(src/pg_arrow_source.rs:220-236) or reading the parquet footer
(src/lib.rs:92-97); Spark's parquet reader does the footer read natively and
Catalyst prunes columns/pushes filters into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may hand us a session it configured itself; both confs are
    # runtime-settable.  UTC keeps LTZ↔NTZ conversions (events ns-rebase,
    # date formatting) identical to the DuckDB oracle's naive timestamps
    # regardless of the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # A plain driver session defaults to 200 shuffle partitions — far too
    # many for local[N]; AQE coalesces, but seeding the right number avoids
    # scheduling overhead entirely.  (Runtime-settable, harmless if the
    # session already configured it.)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        parallelism = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(parallelism))
    if name == "events":
        # Spark ≤3.x rejects the parquet footer's TIMESTAMP(NANOS) unless this
        # legacy conf surfaces it as epoch-nanos long; Spark 4.1+ reads NANOS
        # natively as TIMESTAMP_NTZ (truncated to µs) and ignores the conf.
        # Setting it is harmless on 4.1+ and required on older engines.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # Normalize ts to TIMESTAMP_NTZ(µs) whatever the engine handed us,
        # branching on the OBSERVED dtype rather than the Spark version —
        # robust to environment drift either direction:
        #   - LongType: legacy nanosAsLong path (Spark ≤3.x) → epoch-nanos;
        #     truncate to micros, exactly what DuckDB does internally
        #     (µs-native timestamps), so both engines observe equal values.
        #   - TimestampNTZType: Spark 4.1+ native NANOS read; values are
        #     already the truncated-to-µs equivalents — use as-is.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif isinstance(ts_type, TimestampNTZType):
            pass  # already µs-precision NTZ — identical to the rebased values
        else:
            raise TypeError(
                f"events.ts read as unexpected dtype {ts_type}; expected "
                "LongType (legacy nanosAsLong) or TimestampNTZType (Spark 4.1+ "
                "native TIMESTAMP(NANOS) support)"
            )
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under the schema Spark inferred for the
    same files earlier in this session: inference runs a Spark job per
    read, so it runs once per session and table version instead (the
    files' names, sizes and mtimes key it; a rewritten table is inferred
    again).  Paths the driver cannot stat are inferred on every read."""
    from lakehouse_loader_spark.queries.staging import memo

    if not os.path.exists(path):
        return spark.read.parquet(path)
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f) for root, _dirs, names in os.walk(path) for f in names
        )
    stamp = []
    for f in files:
        st = os.stat(f)
        stamp.append((f, st.st_size, st.st_mtime_ns))
    schema = memo(
        spark, ("schema", path, tuple(stamp)), lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register test tables as temp views so ``spark.sql`` queries work.

    Idempotent; safe to call per-query (view registration is metadata-only).
    ``only`` limits registration to the tables a query actually touches —
    skipping 9 unused parquet footer reads matters for short queries.
    """
    names = only or TABLE_NAMES
    dfs = {name: load_table(spark, sf_dir, name) for name in names}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
