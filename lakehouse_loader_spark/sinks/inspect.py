"""Metadata inspection tables — the `table.snapshots` / `table.files` /
`table.manifests` / `table.refs` surface Iceberg exposes (and delta-spark's
DESCRIBE DETAIL / HISTORY twin), returned as DataFrames so ops tooling can
query them like any table.

Scale note: these read TABLE METADATA (snapshot list, manifest entries, log
actions), never data files — cost is bounded by metadata size exactly like
the scan planners in this package, and `rewrite_manifests` /
checkpointing keep that bounded in commit count.  The frames are built
driver-side from the already-parsed metadata structures: rows ∝ files in
the current snapshot, the same driver state every plan in this engine
already holds.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakehouse_loader_spark.sinks import delta as DL
from lakehouse_loader_spark.sinks import iceberg as IC
from lakehouse_loader_spark.session import local_frame

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("committed_at_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("manifest_list", T.StringType()),
        T.StructField("summary", T.MapType(T.StringType(), T.StringType())),
        T.StructField("is_current", T.BooleanType()),
    ]
)


def iceberg_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """One row per snapshot (the `table.snapshots` metadata table)."""
    _, meta = IC._read_metadata(path)
    cur = meta.get("current-snapshot-id", -1)
    rows = [
        (
            s["snapshot-id"],
            s.get("parent-snapshot-id"),
            s.get("sequence-number"),
            s.get("timestamp-ms"),
            (s.get("summary") or {}).get("operation"),
            s.get("manifest-list"),
            {k: str(v) for k, v in (s.get("summary") or {}).items()},
            s["snapshot-id"] == cur,
        )
        for s in meta.get("snapshots", [])
    ]
    return local_frame(spark, rows, _SNAPSHOTS_SCHEMA)


_FILES_SCHEMA = T.StructType(
    [
        T.StructField("content", T.IntegerType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("partition", T.MapType(T.StringType(), T.StringType())),
    ]
)


def iceberg_files(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """One row per live file of a snapshot (the `table.files` metadata
    table): data files content=0, position/DV deletes 1, equality deletes
    2 — the same split the reader applies."""
    return local_frame(spark, _iceberg_file_rows(path, snapshot_id), _FILES_SCHEMA)


def _iceberg_file_rows(path: str, snapshot_id: int | None = None) -> list[tuple]:
    _, meta = IC._read_metadata(path)
    data, deletes, _ = IC._split_live_entries(path, meta, snapshot_id)

    def row(d: dict):
        part = d.get("partition") or {}
        return (
            d.get("content", 0),
            d["file_path"],
            d.get("record_count"),
            d.get("file_size_in_bytes"),
            d.get("__seq"),
            {k: ("" if v is None else str(v)) for k, v in part.items()},
        )

    return [row(d) for d in data + deletes]


_MANIFESTS_SCHEMA = T.StructType(
    [
        T.StructField("manifest_path", T.StringType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("added_snapshot_id", T.LongType()),
        T.StructField("added_files_count", T.IntegerType()),
        T.StructField("existing_files_count", T.IntegerType()),
        T.StructField("deleted_files_count", T.IntegerType()),
    ]
)


def iceberg_manifests(spark: SparkSession, path: str) -> DataFrame:
    """One row per manifest of the current snapshot (`table.manifests`)."""
    _, meta = IC._read_metadata(path)
    rows = [
        (
            m["manifest_path"],
            m.get("content", 0),
            m.get("sequence_number"),
            m.get("added_snapshot_id"),
            m.get("added_files_count"),
            m.get("existing_files_count"),
            m.get("deleted_files_count"),
        )
        for m in IC._snapshot_manifests(path, meta)
    ]
    return local_frame(spark, rows, _MANIFESTS_SCHEMA)


_REFS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
    ]
)


def iceberg_refs(spark: SparkSession, path: str) -> DataFrame:
    """One row per branch/tag (`table.refs`), including the implicit
    `main` branch (the spec's default head at current-snapshot-id)."""
    refs = IC.list_refs(path)
    rows = [(name, r.get("type"), r.get("snapshot-id")) for name, r in refs.items()]
    if "main" not in refs:
        _, meta = IC._read_metadata(path)
        cur = meta.get("current-snapshot-id", -1)
        if cur != -1:
            rows.append(("main", "branch", cur))
    return local_frame(spark, rows, _REFS_SCHEMA)


_DELTA_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("num_records", T.LongType()),
        T.StructField("modification_time_ms", T.LongType()),
        T.StructField("partition_values", T.MapType(T.StringType(), T.StringType())),
        T.StructField("has_deletion_vector", T.BooleanType()),
    ]
)


def delta_files(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """One row per live Add action at a version (delta-spark's
    `DESCRIBE DETAIL` file inventory / the `_delta_log` state)."""
    return local_frame(spark, _delta_file_rows(path, version), _DELTA_FILES_SCHEMA)


def _delta_file_rows(path: str, version: int | None = None) -> list[tuple]:
    _, _, adds = DL._read_log(path, as_of_version=version)

    def row(a: dict):
        stats = a.get("stats")
        n = None
        if stats:
            try:
                n = json.loads(stats).get("numRecords")
            except (ValueError, TypeError):
                n = None
        return (
            a["path"],
            a.get("size"),
            n,
            a.get("modificationTime"),
            {k: ("" if v is None else str(v)) for k, v in (a.get("partitionValues") or {}).items()},
            a.get("deletionVector") is not None,
        )

    return [row(a) for a in adds.values()]


_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField(
            "operation_parameters", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """`DESCRIBE HISTORY` as a DataFrame (wraps delta.table_history)."""
    rows = [
        (
            h["version"],
            h.get("timestamp"),
            h.get("operation"),
            {k: json.dumps(v) if isinstance(v, (dict, list)) else str(v)
             for k, v in (h.get("operationParameters") or {}).items()},
        )
        for h in DL.table_history(path)
    ]
    return local_frame(spark, rows, _HISTORY_SCHEMA)


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """One-row table summary for either format (DESCRIBE DETAIL): format,
    file/row/byte totals of the current state, plus the r9 layout/identity
    declarations — clustering or sort-order columns and whether row
    ids are tracked (Delta rowTracking / Iceberg row lineage)."""
    fmt = "iceberg" if os.path.isdir(os.path.join(path, "metadata")) else "delta"
    if fmt == "iceberg":
        # (content, file_path, record_count, file_size_in_bytes, ...)
        files = _iceberg_file_rows(path)
        data = [(f[2], f[3]) for f in files if f[0] == 0]
        n_deletes = len(files) - len(data)
        clustering = ", ".join(IC.table_sort_order(path)) or None
        row_ids = IC._row_lineage_enabled(IC._read_metadata(path)[1])
    else:
        # (path, size_bytes, num_records, ..., has_deletion_vector)
        files = _delta_file_rows(path)
        data = [(f[2], f[1]) for f in files]
        n_deletes = sum(1 for f in files if f[5])
        clustering = ", ".join(DL.table_cluster_by(path)) or None
        row_ids = DL._row_tracking_enabled(DL._read_log(path)[1])
    schema = T.StructType(
        [
            T.StructField("format", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("num_files", T.LongType()),
            T.StructField("total_records", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("num_delete_files_or_dvs", T.LongType()),
            T.StructField("clustering", T.StringType()),
            T.StructField("row_ids_tracked", T.BooleanType()),
        ]
    )
    total_records = sum(n or 0 for n, _ in data)
    total_bytes = sum(b or 0 for _, b in data)
    return local_frame(
        spark,
        [(fmt, path, len(data), total_records, total_bytes, n_deletes, clustering, row_ids)],
        schema,
    )
