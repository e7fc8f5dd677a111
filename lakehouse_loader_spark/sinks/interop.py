"""Cross-format metadata interop: expose ONE set of parquet data files
under BOTH table formats by generating the other format's metadata in
place — the publicly documented idea behind Delta UniForm and Apache
XTable (incubating): data files are format-neutral parquet; only the
transaction metadata differs.

``sync_iceberg_from_delta``: a Delta table gains Iceberg metadata
(metadata/v*.metadata.json + Avro manifests referencing the SAME parquet
files), so any Iceberg reader — including this repo's ``read_iceberg`` —
scans it without copying a byte.  ``sync_delta_from_iceberg`` is the
reverse (a ``_delta_log`` over an Iceberg table's current snapshot).

Relationship to ``convert_delta_to_iceberg`` / ``convert_iceberg_to_delta``
(the one-shot snapshot-migration procedures): those mint a NEW table at a
DIFFERENT path referencing the source's files once; a sync keeps ONE
path serving both formats and refreshes incrementally — UniForm's
continuous-mirror semantics vs Iceberg's ``snapshot`` migration shape.

Both are one-way CURRENT-SNAPSHOT projections, re-runnable after new
commits (each sync appends a fresh metadata version on the mirror side;
stale mirrors simply lag, they never corrupt).  Refused loudly:

- tables with LIVE row-level deletes (Delta DVs / Iceberg delete files):
  the mirror format would resurrect deleted rows — compact first
  (OPTIMIZE materializes deletes into plain parquet)
- partitioned tables (v1 scope): mapping directory-encoded partition
  values between the two specs is follow-up work, and a silent
  unpartitioned projection would break partition pruning expectations

Scale note: a sync is METADATA-cost — one walk of the source log plus
one parquet-footer open per data file for Iceberg stats (the same cost
write_iceberg pays), no data IO.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import types as T

from lakehouse_loader_spark.sinks.staging import create_exclusive


class InteropNotPossibleError(RuntimeError):
    """The source table uses a feature the mirror format's projection
    cannot represent without data loss (live deletes, partitioning)."""


def sync_iceberg_from_delta(delta_path: str) -> dict:
    """Generate/refresh Iceberg metadata over a Delta table's CURRENT
    snapshot.  Returns {"delta_version", "iceberg_version", "files"}."""
    from lakehouse_loader_spark.sinks import delta as D
    from lakehouse_loader_spark.sinks import iceberg as IC
    from lakehouse_loader_spark.sinks.staging import local_path

    path = local_path(delta_path)
    if not D.table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    version, meta, adds = D._read_log(path)
    if meta.get("partitionColumns"):
        raise InteropNotPossibleError(
            f"{path} is partitioned ({meta['partitionColumns']}); the "
            "cross-format partition-spec mapping is not implemented"
        )
    dv_files = [p for p, a in adds.items() if a.get("deletionVector")]
    if dv_files:
        raise InteropNotPossibleError(
            f"{path} carries deletion vectors on {len(dv_files)} file(s); "
            "an Iceberg projection would resurrect deleted rows — run "
            "optimize_delta first to materialize them"
        )
    spark_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    schema_ice = IC.schema_to_iceberg(spark_schema)

    os.makedirs(IC._meta_dir(path), exist_ok=True)
    if IC.table_exists(path):
        ice_version, ice_meta = IC._read_metadata(path)
        # already mirrors this delta version? no-op
        for s in reversed(ice_meta.get("snapshots", [])):
            if (s.get("summary") or {}).get("delta-version") == str(version):
                return {
                    "delta_version": version,
                    "iceberg_version": ice_version,
                    "files": len(adds),
                    "up_to_date": True,
                }
        ice_meta = dict(ice_meta)
        ice_meta["schemas"] = [schema_ice]
        ice_meta["current-schema-id"] = schema_ice["schema-id"]
    else:
        ice_version = -1
        ice_meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": os.path.abspath(path),
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": 0,
            "schemas": [schema_ice],
            "current-schema-id": 0,
            "partition-specs": [IC._partition_spec(schema_ice, [], 0)],
            "default-spec-id": 0,
            "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            "properties": {"lhl.mirror-of": "delta"},
            "snapshots": [],
        }
    entries = [
        {
            "content": 0,
            "file_path": rel,
            "file_size_in_bytes": int(a.get("size", 0)),
            "partition": {},
        }
        for rel, a in sorted(adds.items())
    ]
    snapshot_id = uuid.uuid4().int % (1 << 62)
    sequence_number = ice_meta["last-sequence-number"] + 1
    manifest = IC._write_manifest(path, snapshot_id, entries, ice_meta)
    manifest_list = IC._write_manifest_list(path, snapshot_id, [manifest], sequence_number)
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": sequence_number,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": manifest_list,
        "summary": {"operation": "replace", "delta-version": str(version)},
    }
    new_meta = dict(ice_meta)
    new_meta["last-sequence-number"] = sequence_number
    new_meta["last-updated-ms"] = snapshot["timestamp-ms"]
    new_meta["snapshots"] = ice_meta.get("snapshots", []) + [snapshot]
    new_meta["current-snapshot-id"] = snapshot_id
    new_version = ice_version + 1
    # exclusive create = the commit point, like every other metadata
    # writer; a concurrent mirror-side commit surfaces loudly instead of
    # silently overwriting it
    create_exclusive(
        os.path.join(IC._meta_dir(path), f"v{new_version}.metadata.json"),
        json.dumps(new_meta, indent=2),
    )
    IC._write_hint(path, new_version)
    return {
        "delta_version": version,
        "iceberg_version": new_version,
        "files": len(entries),
    }


def sync_delta_from_iceberg(iceberg_path: str) -> dict:
    """Generate/refresh a ``_delta_log`` over an Iceberg table's CURRENT
    snapshot.  Returns {"iceberg_version", "delta_version", "files"}."""
    from lakehouse_loader_spark.sinks import delta as D
    from lakehouse_loader_spark.sinks import iceberg as IC
    from lakehouse_loader_spark.sinks.staging import local_path

    path = local_path(iceberg_path)
    if not IC.table_exists(path):
        raise FileNotFoundError(f"no iceberg table at {path}")
    ice_version, meta = IC._read_metadata(path)
    data_entries, delete_entries, partitioned = IC._split_live_entries(path, meta)
    if delete_entries:
        raise InteropNotPossibleError(
            f"{path} carries {len(delete_entries)} live delete file(s); a "
            "Delta projection would resurrect deleted rows — run "
            "optimize_iceberg first to materialize them"
        )
    if partitioned or IC._default_spec_cols(meta):
        raise InteropNotPossibleError(
            f"{path} is partitioned; the cross-format partition-spec "
            "mapping is not implemented"
        )
    spark_schema = IC.iceberg_to_schema(meta["schemas"][meta["current-schema-id"]])
    abs_root = os.path.abspath(path)

    mirror_tag = f"iceberg-snapshot-{meta['current-snapshot-id']}"
    if D.table_exists(path):
        latest, dmeta, _ = D._read_log(path)
        # find the last sync marker; identical snapshot → no-op
        for entry in D.table_history(path):
            op_params = entry.get("operationParameters") or {}
            if op_params.get("mirror") == mirror_tag:
                return {
                    "iceberg_version": ice_version,
                    "delta_version": entry["version"],
                    "files": len(data_entries),
                    "up_to_date": True,
                }
        base_version = latest
        meta_id = dmeta["id"]
    else:
        base_version = -1
        meta_id = str(uuid.uuid4())

    schema_json = json.loads(spark_schema.json())
    adds = []
    for d in data_entries:
        full = IC._abs_file(path, d["file_path"])
        rel = os.path.relpath(full, abs_root).replace(os.sep, "/")
        adds.append(
            {
                "path": rel,
                "partitionValues": {},
                "size": int(d.get("file_size_in_bytes", 0))
                or os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
                "dataChange": base_version == -1,
            }
        )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 1}},
        {
            "metaData": {
                "id": meta_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema_json),
                "partitionColumns": [],
                "configuration": {"lhl.mirror-of": "iceberg"},
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    if base_version >= 0:
        # refresh: remove every previously-live file, re-add the current set
        _, _, old_adds = D._read_log(path)
        actions += [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": False,
                }
            }
            for p in sorted(old_adds)
        ]
    actions += [{"add": a} for a in adds]
    actions.append(
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "REPLACE TABLE",
                "operationParameters": {"mirror": mirror_tag},
            }
        }
    )
    os.makedirs(D._log_dir(path), exist_ok=True)
    D._commit(path, base_version + 1, actions)
    return {
        "iceberg_version": ice_version,
        "delta_version": base_version + 1,
        "files": len(adds),
    }
