"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the scale knobs the reference fixes in code
(src/delta_destination.rs:43-46, 439): snappy parquet, bounded file sizes —
but expressed as Spark confs so they hold on a real cluster too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Reference: max 2,097,152 rows per output parquet file
# (src/delta_destination.rs:434-440).
MAX_RECORDS_PER_FILE = 2 * 1024 * 1024

# Reference physical layout (src/delta_destination.rs:43, 58-61): 122,880-row
# parquet row groups with page-level statistics.  parquet-mr caps row-group
# rows via parquet.block.row.count.limit; page stats are the column/offset
# indexes parquet-mr writes by default (sink tests assert both from footers).
MAX_ROW_GROUP_SIZE = 122_880


def get_spark(app_name: str = "lakehouse_loader_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is on (runtime re-plan subsumes every perf TODO the reference left,
    src/lib.rs:199-203); shuffle partitions sized to local cores — on a real
    cluster AQE coalesces, so the static number only seeds the initial plan.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as epoch-nanos longs and rebase in the catalog (the
        # reference rebases epochs the same way, src/pg_datetime.rs:5-28)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/lhl-spark-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | T.StructType
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small driver-built
    frames (lookup maps, driver-regime operator results, empty reads),
    built from Arrow.  A list input plans as ``Scan ExistingRDD``, a
    PythonRDD whose every scan starts Python workers; an Arrow input under
    ``spark.sql.execution.arrow.localRelationThreshold`` plans as a
    ``LocalTableScan`` and runs no job at all.  ``schema`` is a DDL string
    or a ``StructType`` (kept as given: nullability and field metadata
    included)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    pa_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(pa_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, pa_schema)], schema=pa_schema
    )
    return spark.createDataFrame(table, struct)
