"""SparkSession factory tuned for the engine, and the one boundary between
the driver and Spark.

Local-mode defaults mirror the scale knobs the reference fixes in code
(src/delta_destination.rs:43-46, 439): snappy parquet, bounded file sizes —
but expressed as Spark confs so they hold on a real cluster too.

Data crosses between the driver and Spark in one form, Arrow tables (the
reference hands Arrow ``RecordBatch``es from its source to its writers),
and only through this module: :func:`local_frame` turns driver-side rows
or an Arrow table into a frame, :func:`collect_bounded` is the one gated
collect of a frame into the driver.  ``tests/test_collect_lint.py`` keeps
every other module off ``createDataFrame(`` and ``toArrow(``.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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
    spark: SparkSession, data: list[tuple] | pa.Table, schema: str | T.StructType
) -> DataFrame:
    """The frame of driver-side ``data`` (row tuples or an Arrow table)
    under ``schema``: lookup maps, driver-regime operator results,
    metadata tables, empty reads.  Built from Arrow, it plans as a
    ``LocalTableScan`` under ``spark.sql.execution.arrow.
    localRelationThreshold`` and runs no job; a list handed to
    ``createDataFrame`` plans as ``Scan ExistingRDD`` over a PythonRDD,
    whose every action starts Python workers.  ``schema`` is a DDL string
    or a ``StructType`` (kept as given: nullability and field metadata
    included)."""
    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        pa_schema = to_arrow_schema(struct)
        cols = list(zip(*data)) if data else [()] * len(pa_schema)
        data = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, pa_schema)], schema=pa_schema
        )
    return spark.createDataFrame(data, struct)


def collect_bounded(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as an Arrow table when it has at most ``max_rows`` rows, else
    None (the caller takes its distributed path): the one gated collect of
    every driver regime.

    The input files' parquet footers are read first (no Spark job): when
    they hold more than ``max_rows`` rows the collect is not tried, since
    a gated frame's size follows its inputs' and an overflowing collect is
    discarded after paying the whole derivation, which the distributed
    path then repeats.  A bare scan of local parquet files is read by
    pyarrow with no Spark job; any other frame runs one
    ``limit(max_rows + 1)`` collect."""
    import pyarrow.parquet as pq

    footers = _local_parquet_footers(df)
    if footers is not None and sum(m.num_rows for m in footers.values()) > max_rows:
        return None
    if footers is not None and _is_bare_scan(df, footers):
        want = to_arrow_schema(df.schema)
        parts = []
        for path in footers:
            with pq.ParquetFile(path) as f:
                parts.append(f.read(columns=df.columns).cast(want))
        return pa.concat_tables([want.empty_table(), *parts])
    table = df.limit(max_rows + 1).toArrow()
    return table if table.num_rows <= max_rows else None


def _local_parquet_footers(df: DataFrame) -> dict | None:
    """Local path -> parquet footer of every file ``df`` scans, in path
    order, or None when an input is not a local parquet file."""
    import pyarrow.parquet as pq

    from lakehouse_loader_spark.sinks.staging import local_path

    footers = {}
    for uri in sorted(df.inputFiles()):
        if not uri.startswith("file:"):
            return None
        try:
            footers[local_path(uri)] = pq.read_metadata(local_path(uri))
        except (OSError, ValueError):
            return None
    return footers


def _is_bare_scan(df: DataFrame, footers: dict) -> bool:
    """True when ``df`` plans as one unpartitioned parquet relation whose
    files pyarrow reads exactly as Spark would: every column stored under
    its own name and the Arrow type Spark's own collect produces, and no
    Spark legacy calendar or INT96 rebase recorded in a footer."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "LogicalRelation":
        return False
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().toString() != "Parquet"
        or rel.partitionSchema().length() > 0
    ):
        return False
    want = to_arrow_schema(df.schema)
    for meta in footers.values():
        if any(k.startswith(b"org.apache.spark.legacy") for k in meta.metadata or {}):
            return False
        have = meta.schema.to_arrow_schema()
        for field in want:
            i = have.get_field_index(field.name)
            if i < 0 or have.field(i).type != field.type:
                return False
    return True
