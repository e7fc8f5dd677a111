"""Delta Lake sink: Spark executors write the parquet parts; this module
writes the `_delta_log` transaction commits — the same division of labor as
the reference, whose executors stream parts to object storage and whose
driver commits Add actions in one transaction
(src/delta_destination.rs:392-477).

Commit layout mirrors the reference exactly (asserted by its e2e test,
tests/basic_integration.rs:48-60):

- version 0: protocol(minReader=1, minWriter=1) + metaData  — the "create"
  (src/delta_destination.rs:446-458)
- version 1: one commitInfo + all Add actions as a single append write
  (src/delta_destination.rs:460-470)

Mode semantics deviate from the reference in ONE documented place: on an
existing table without --overwrite the reference logs "pass --overwrite" and
returns Ok without writing (src/delta_destination.rs:421-427); we raise
TargetExistsError instead (see write_delta's docstring for the rationale —
the CLI layer restores the reference's observable message).

No delta-spark JAR is needed: the Delta transaction log is plain JSON over
parquet parts (the protocol pin at minReader/minWriter=1 keeps every reader
compatible).  On a cluster the log commit must use an atomic
create-if-absent (S3 conditional PUT / DynamoDB lock); locally a hard
link of the fully written file provides the same exclusivity, and commit conflicts retry
optimistically like the reference (≤3, src/lib.rs:82).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakehouse_loader_spark.session import local_frame
from lakehouse_loader_spark.sinks.staging import accepts_file_uris, create_exclusive
from lakehouse_loader_spark.sinks.alignment import check_schema_aligned, merge_schemas
from lakehouse_loader_spark.sinks.modes import (
    TargetExistsError,
    WriteMode,
    resolve_write_mode,
)

# Reference consts (src/delta_destination.rs:43-46, 439)
MAX_ROWS_PER_FILE = 2 * 1024 * 1024
COMMIT_RETRIES = 3


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit invalidated this transaction's snapshot (e.g. a
    file this OPTIMIZE/MERGE wants to remove was already removed, or a
    concurrent append added rows a MERGE should have matched).  Blindly
    re-committing stale remove+add actions would double rows or lose
    updates — same failure Delta's ConcurrentDeleteDeleteException /
    ConcurrentAppendException guard against."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _version_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


@accepts_file_uris
def table_exists(path: str) -> bool:
    # a checkpoint with every prior JSON cleaned away (delta-spark's
    # metadata cleanup can leave a tip-checkpoint log) is still a table
    return os.path.isdir(_log_dir(path)) and any(
        f.endswith(".json") or (".checkpoint" in f and f.endswith(".parquet"))
        for f in os.listdir(_log_dir(path))
    )


def _checkpoint_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.checkpoint.parquet")


def _checkpoint_versions(path: str) -> list[int]:
    # classic `<v>.checkpoint.parquet` AND v2/UUID `<v>.checkpoint.<uuid>.parquet`
    out = set()
    for f in os.listdir(_log_dir(path)):
        parts = f.split(".")
        if len(parts) >= 3 and parts[1] == "checkpoint" and parts[-1] == "parquet":
            out.add(int(parts[0]))
    return sorted(out)


def _checkpoint_paths(path: str, version: int) -> list[str]:
    """Every parquet of one checkpoint (classic = 1 file; multipart or a
    v2/UUID manifest may be several names for the version)."""
    prefix = f"{version:020d}.checkpoint"
    return sorted(
        os.path.join(_log_dir(path), f)
        for f in os.listdir(_log_dir(path))
        if f.startswith(prefix) and f.endswith(".parquet")
    )


def _norm_checkpoint_add(raw: dict) -> dict:
    a = dict(raw)
    a["partitionValues"] = dict(a.get("partitionValues") or [])
    dv = a.get("deletionVector")
    if dv is None:
        a.pop("deletionVector", None)
    else:
        # strip null struct members (inline DVs have no offset) so
        # checkpoint-loaded descriptors compare EQUAL to their
        # JSON-commit twins in _dv_unchanged_validator
        a["deletionVector"] = {k: v for k, v in dict(dv).items() if v is not None}
    # scalar optionals absent from JSON adds come back null from the
    # checkpoint struct — drop them so both sources compare equal
    for opt in ("baseRowId", "defaultRowCommitVersion", "clusteringProvider"):
        if a.get(opt) is None:
            a.pop(opt, None)
    return a


def _load_checkpoint(
    path: str, version: int
) -> tuple[dict, dict[str, dict], dict[str, int], dict[str, str]]:
    """Read one checkpoint back into (metaData, live adds, latest txn
    version per appId, live domain configurations) — the same dict shapes
    the JSON replay builds (parquet maps come back as key/value tuple
    lists; re-dict them).  Handles the classic single-parquet form AND the
    v2 form (readerFeature ``v2Checkpoint``): a manifest holding the
    non-file actions plus ``sidecar`` references whose ``_sidecars/``
    parquets hold the adds."""
    import pyarrow.parquet as pq

    meta: dict = {}
    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}
    domains: dict[str, str] = {}

    def consume(rows) -> None:
        for row in rows:
            if row.get("metaData"):
                m = dict(row["metaData"])
                m["format"] = {"provider": (m.get("format") or {}).get("provider", "parquet"), "options": {}}
                m["configuration"] = dict(m.get("configuration") or [])
                meta.update(m)
            elif row.get("add"):
                a = _norm_checkpoint_add(row["add"])
                adds[a["path"]] = a
            elif row.get("txn"):
                t = row["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), int(t["version"]))
            elif row.get("domainMetadata"):
                d = row["domainMetadata"]
                # checkpoints carry only live domains (removed tombstones
                # exist solely to win replay over older JSON commits)
                if not d.get("removed"):
                    domains[d["domain"]] = d.get("configuration") or ""
            elif row.get("sidecar"):
                sc = row["sidecar"]
                scp = sc["path"]
                if not os.path.isabs(scp):
                    scp = os.path.join(_log_dir(path), "_sidecars", scp)
                consume(pq.read_table(scp).to_pylist())

    for f in _checkpoint_paths(path, version):
        consume(pq.read_table(f).to_pylist())
    return meta, adds, txns, domains


def _read_log(path: str, as_of_version: int | None = None) -> tuple[int, dict, dict[str, dict]]:
    """Replay the log: returns (latest_version, metaData, live adds by path).
    ``as_of_version`` stops the replay early — Delta time travel.

    When a checkpoint parquet covers a prefix of the requested range, the
    replay seeds from it and reads only the newer JSON commits — bounding
    replay cost to CHECKPOINT_INTERVAL commits regardless of table age
    (time travel BEFORE the newest checkpoint falls back to full JSON
    replay; JSON commits are never truncated here)."""
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(_log_dir(path)) if f.endswith(".json")
    )
    if as_of_version is not None:
        if as_of_version not in versions:
            raise ValueError(f"version {as_of_version} not in {path} (have {versions})")
        versions = [v for v in versions if v <= as_of_version]
    meta: dict = {}
    adds: dict[str, dict] = {}
    ckpts = _checkpoint_versions(path)
    if not versions and not ckpts:
        raise FileNotFoundError(f"empty delta log at {path}")
    tip = versions[-1] if versions else ckpts[-1]
    usable_ckpts = [v for v in ckpts if v <= tip]
    if usable_ckpts:
        ckpt_v = usable_ckpts[-1]
        meta, adds, _, _ = _load_checkpoint(path, ckpt_v)
        versions = [v for v in versions if v > ckpt_v]
    for v in versions:
        with open(_version_file(path, v)) as fh:
            for line in fh:
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
    latest = versions[-1] if versions else usable_ckpts[-1]
    return latest, meta, adds


class UnsupportedProtocolError(RuntimeError):
    """The table's Delta protocol demands reader/writer features this
    engine does not implement — proceeding would silently misread (e.g.
    unapplied deletion vectors) or corrupt, so the protocol's contract is
    to refuse."""


SUPPORTED_READER_VERSION = 2  # through column mapping (name mode, read path)
SUPPORTED_WRITER_VERSION = 3  # through CHECK constraints (enforced here)

# Table-features protocol (reader v3 / writer v7): only features this
# engine actually implements are claimed — reading past an unknown reader
# feature would silently misread (the exact failure _check_protocol's
# docstring warns about), so membership here is a correctness contract,
# not a capability advertisement.  "invariants" is claimed because
# _enforce_constraints also evaluates column invariants
# (delta.invariants field metadata) on every write path.
SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    # v2 checkpoints: _load_checkpoint follows sidecar references on read,
    # and write_checkpoint emits the UUID-manifest + _sidecars layout when
    # the table demands it (the feature's writer requirement)
    "v2Checkpoint",
}
SUPPORTED_WRITER_FEATURES = {
    "deletionVectors",
    "checkConstraints",
    "appendOnly",
    "invariants",
    # generation expressions are enforced on every write path: absent
    # columns are computed, provided values must equal the expression
    # (_generation_rules rides through _write_rules)
    "generatedColumns",
    # identity assignment, high-water-mark tracking, and explicit-insert /
    # UPDATE refusal are enforced (_apply_identity and friends)
    "identityColumns",
    # every commit to an enabled table carries a strictly-monotonic
    # commitInfo.inCommitTimestamp as the FIRST action (_with_ict)
    "inCommitTimestamps",
    # checkpoints on demanding tables are written in the v2 layout
    # (write_checkpoint auto-detects; enable_v2_checkpoints upgrades)
    "v2Checkpoint",
    # appends translate logical->physical names; schema evolution via
    # rename_column/drop_column/add_column; DML stays refused (the
    # rewrite paths would need physical-name stats plumbing)
    "columnMapping",
    # TIMESTAMP_NTZ is a native Spark type here; the feature is declared
    # automatically whenever the schema contains one (_ntz_in_schema)
    "timestampNtz",
    # DML on enabled tables writes _change_data files + cdc actions
    # (_write_cdc); RESTORE refuses on enabled tables rather than emit a
    # commit whose change set it cannot represent
    "changeDataFeed",
    # domainMetadata actions are replayed last-wins per domain, persisted
    # through checkpoints, and exposed via table_domain_metadata /
    # set_domain_metadata (system `delta.*` domains stay writer-internal)
    "domainMetadata",
    # every new add carries baseRowId + defaultRowCommitVersion, the
    # high-water mark lives in the `delta.rowTracking` domain, and
    # read_delta_with_row_ids surfaces _row_id/_row_commit_version;
    # rewriting DML (OPTIMIZE/UPDATE/MERGE/CoW DELETE) refuses — MOR
    # deletes (deletion vectors) preserve row ids natively
    "rowTracking",
    # clustering columns live in the `delta.clustering` domain; OPTIMIZE
    # picks them up automatically (z-order interleave) and stamps
    # clusteringProvider on the rewritten adds
    "clustering",
}

# What each LEGACY protocol version implies once a table converts to the
# table-features form (Delta PROTOCOL.md, "Table Features" mapping).  An
# upgrade that drops an implied feature from the emitted lists would make
# feature-aware external writers silently stop enforcing it.
_LEGACY_READER_FEATURES = {1: set(), 2: {"columnMapping"}}
_LEGACY_WRITER_FEATURES = {
    1: set(),
    2: {"appendOnly", "invariants"},
    3: {"appendOnly", "invariants", "checkConstraints"},
    4: {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
    },
    5: {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "columnMapping",
    },
    6: {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "columnMapping",
        "identityColumns",
    },
}


@accepts_file_uris
def table_protocol(path: str) -> dict:
    """The table's current protocol action (last one wins), seeded from
    the newest checkpoint and replayed through newer JSON commits."""
    proto = {"minReaderVersion": 1, "minWriterVersion": 1}
    floor = -1
    ckpts = _checkpoint_versions(path)
    if ckpts:
        import pyarrow.parquet as pq

        floor = ckpts[-1]
        # the protocol action lives in the manifest itself for v2
        # checkpoints (non-file actions never move to sidecars)
        for f in _checkpoint_paths(path, floor):
            for row in pq.read_table(f).to_pylist():
                pr = row.get("protocol")
                if pr and pr.get("minReaderVersion") is not None:
                    proto = {k: v for k, v in pr.items() if v is not None}
    for v in sorted(
        int(f.split(".")[0]) for f in os.listdir(_log_dir(path)) if f.endswith(".json")
    ):
        if v <= floor:
            continue
        with open(_version_file(path, v)) as fh:
            for line in fh:
                if '"protocol"' not in line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    proto = action["protocol"]
    return proto


def _column_mapping_mode(meta: dict) -> str:
    return (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")


def _check_protocol(path: str, for_write: bool) -> None:
    proto = table_protocol(path)
    reader = proto.get("minReaderVersion", 1)
    writer = proto.get("minWriterVersion", 1)
    if reader > SUPPORTED_READER_VERSION:
        # reader v3 = table features: supported iff every listed reader
        # feature is implemented here (deletionVectors is)
        unknown = (
            set(proto.get("readerFeatures") or []) - SUPPORTED_READER_FEATURES
            if reader == 3
            else {f"minReaderVersion={reader}"}
        )
        if unknown:
            raise UnsupportedProtocolError(
                f"{path} requires reader features {sorted(unknown)} "
                f"(supported: {sorted(SUPPORTED_READER_FEATURES)}); reading "
                "would silently ignore features like column mapping"
            )
    if for_write and writer in (4, 5, 6):
        # legacy v4 implies generatedColumns+changeDataFeed, v5 adds
        # columnMapping, v6 adds identityColumns — every implied feature
        # is enforced here (generation rules and identity assignment on
        # every write; cdc actions under CDF; physical-name translation
        # on mapped appends), so these legacy versions are writable
        return
    if for_write and writer > SUPPORTED_WRITER_VERSION:
        unknown = (
            set(proto.get("writerFeatures") or []) - SUPPORTED_WRITER_FEATURES
            if writer == 7
            else {f"minWriterVersion={writer}"}
        )
        if unknown:
            raise UnsupportedProtocolError(
                f"{path} requires writer features {sorted(unknown)} "
                f"(supported: {sorted(SUPPORTED_WRITER_FEATURES)}); writing "
                "blind would break invariants this engine does not implement"
            )


def _forbid_if_column_mapped(meta: dict, op: str) -> None:
    """DML rewrite paths on mapped tables refuse: they probe file stats
    and rewrite rows by LOGICAL name, which under mapping would misbind
    against physically-named files.  Appends translate logical→physical
    and proceed (write_delta); schema evolution goes through
    rename_column/drop_column/add_column (metadata-only)."""
    mode = _column_mapping_mode(meta)
    if mode != "none":
        raise UnsupportedProtocolError(
            f"{op} into a column-mapped table (delta.columnMapping.mode="
            f"{mode}) is not supported: the rewrite path resolves stats "
            "and rows by logical name (append and ALTER are supported)"
        )


def _forbid_if_append_only(meta: dict, op: str) -> None:
    """Honor ``delta.appendOnly`` (claimed in SUPPORTED_WRITER_FEATURES, so
    it MUST be enforced): data-changing removes are refused."""
    if (meta.get("configuration") or {}).get("delta.appendOnly") == "true":
        raise ValueError(f"{op} is not allowed: table is delta.appendOnly")


def _protocol_upgrade_actions(
    path: str,
    *,
    writer_feature: str | None = None,
    legacy_writer: int = 1,
    reader_feature: str | None = None,
    force_features: bool = False,
) -> list[dict]:
    """Non-downgrading protocol action granting one capability demand, or
    [] when the current protocol already satisfies it.

    Rules (Delta PROTOCOL.md): versions never decrease; a table already on
    the table-features form (reader 3 / writer 7) keeps its existing
    feature lists with the new feature MERGED in — re-emitting a plain
    legacy protocol over it would be a downgrade that strips e.g. the
    deletionVectors reader gate while live adds still carry DVs; and a
    legacy table converting to the features form carries every feature its
    old minWriterVersion implied (dropping an implied 'invariants' would
    make external feature-aware writers stop enforcing them).

    ``force_features`` demands the features form regardless of current
    state (deletion vectors have no legacy encoding); otherwise a legacy
    table satisfiable by a plain version bump stays legacy
    (``legacy_writer``)."""
    cur = table_protocol(path)
    cr = cur.get("minReaderVersion", 1)
    cw = cur.get("minWriterVersion", 1)
    cur_rf = (
        set(cur.get("readerFeatures") or [])
        if cr >= 3
        else _LEGACY_READER_FEATURES.get(cr, set())
    )
    cur_wf = (
        set(cur.get("writerFeatures") or [])
        if cw >= 7
        else _LEGACY_WRITER_FEATURES.get(cw, set())
    )
    on_features = cw >= 7 or cr >= 3
    # under force_features a writer demand is satisfiable only by feature
    # membership (incl. legacy-implied) — a plain legacy version can never
    # satisfy a feature with no legacy encoding (found via ICT: legacy_writer
    # defaulting to 1 made every legacy table look already-satisfied)
    writer_ok = writer_feature is None or (
        writer_feature in cur_wf
        if (on_features or force_features)
        else cw >= legacy_writer
    )
    reader_ok = reader_feature is None or (on_features and reader_feature in cur_rf)
    if writer_ok and reader_ok:
        return []
    if not (on_features or force_features):
        # plain legacy bump suffices
        return [
            {
                "protocol": {
                    "minReaderVersion": cr,
                    "minWriterVersion": max(cw, legacy_writer),
                }
            }
        ]
    new_wf = cur_wf | ({writer_feature} if writer_feature else set())
    new_rf = cur_rf | ({reader_feature} if reader_feature else set())
    proto: dict = {"minReaderVersion": 3 if new_rf else cr, "minWriterVersion": 7}
    if proto["minReaderVersion"] >= 3:
        proto["readerFeatures"] = sorted(new_rf)
    proto["writerFeatures"] = sorted(new_wf)
    return [{"protocol": proto}]


def _dv_protocol_actions(path: str) -> list[dict]:
    """Protocol-upgrade action for the first deletion-vector write on a
    table (reader 3 / writer 7 with the feature lists), or [] if the table
    already advertises deletionVectors.  Rides in the SAME commit as the
    first DV add — a reader that sees the DV also sees the demand to
    understand it."""
    return _protocol_upgrade_actions(
        path,
        writer_feature="deletionVectors",
        reader_feature="deletionVectors",
        force_features=True,
    )


@accepts_file_uris
def table_schema(path: str) -> T.StructType:
    _, meta, _ = _read_log(path)
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


@accepts_file_uris
def last_txn_version(path: str, app_id: str) -> int:
    """Highest committed ``txn`` version for ``app_id`` (Delta's
    transaction-identifier mechanism for idempotent writes), or -1.  A
    writer that stamps each commit with (appId, version) can skip a replay
    of an already-committed batch — the exactly-once handshake between a
    streaming checkpoint and the table log."""
    if not table_exists(path):
        return -1
    best = -1
    # Seed from the newest checkpoint's per-appId txn map (checkpoints
    # already aggregate high-water marks) and replay only newer JSON
    # commits, so per-call cost is bounded by the checkpoint interval
    # rather than the whole log's commit count.
    ckpt_floor = -1
    ckpts = _checkpoint_versions(path)
    if ckpts:
        ckpt_floor = ckpts[-1]
        _, _, txns, _ = _load_checkpoint(path, ckpt_floor)
        best = txns.get(app_id, -1)
    for f in os.listdir(_log_dir(path)):
        if not f.endswith(".json"):
            continue
        if int(f.split(".")[0]) <= ckpt_floor:
            continue
        with open(os.path.join(_log_dir(path), f)) as fh:
            for line in fh:
                if '"txn"' not in line:
                    continue
                action = json.loads(line)
                txn = action.get("txn")
                if txn and txn.get("appId") == app_id:
                    best = max(best, int(txn["version"]))
    return best


def _write_parts(
    df: DataFrame,
    path: str,
    max_rows_per_file: int,
    partition_by: list[str] | None = None,
    bloom_filter_columns: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> list[dict]:
    """Write parquet parts via Spark into a staging dir, then promote them to
    the table root; returns Add actions.  Executors do all data I/O — the
    driver only renames and records metadata (cheap, like the reference's
    commit stage).  With ``partition_by``, parts land under hive-style
    ``col=value/`` directories and the Add actions carry partitionValues.

    ``bloom_filter_columns`` writes parquet bloom filters for those columns
    and ``sort_by`` clusters rows within each task's files before writing —
    the two write-path optimizations the reference left as TODOs
    (src/lib.rs:199-203: "bloom filters are disabled", "sort on certain
    columns ... later")."""
    from lakehouse_loader_spark.sinks.staging import promote_staged_files

    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    from lakehouse_loader_spark.session import MAX_ROW_GROUP_SIZE

    writer = (
        df.write.option("maxRecordsPerFile", str(max_rows_per_file))
        .option("compression", "snappy")
        # reference row-group sizing (delta_destination.rs:43): exact
        # 122,880-row groups; page statistics (column/offset indexes,
        # :58-61) are parquet-mr defaults and asserted by the sink tests
        .option("parquet.block.row.count.limit", str(MAX_ROW_GROUP_SIZE))
    )
    for col in bloom_filter_columns or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    now_ms = int(time.time() * 1000)
    return [
        {
            "path": rel,
            "partitionValues": partition,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps(_file_stats(os.path.join(path, rel))),
        }
        for rel, partition, size in promote_staged_files(staging, path)
    ]


def _prev_commit_instant(path: str, version: int) -> int | None:
    """The preceding commit's instant for ICT monotonicity: its
    inCommitTimestamp when present, else its commitInfo timestamp, else
    the commit file's mtime."""
    if version == 0:
        return None
    vf = _version_file(path, version - 1)
    try:
        with open(vf) as fh:
            for line in fh:
                if '"commitInfo"' not in line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    return ci.get("inCommitTimestamp") or ci.get("timestamp")
        return int(os.path.getmtime(vf) * 1000)
    except FileNotFoundError:
        return None


def _with_ict(path: str, version: int, actions: list[dict]) -> list[dict]:
    """In-commit timestamps (writer feature): when the table enables them,
    every commit's commitInfo must be the FIRST action and carry an
    ``inCommitTimestamp`` strictly greater than the preceding commit's —
    the clock readers trust for AS OF TIMESTAMP instead of file mtimes
    (which object-store copies and vacuum rewrites do not preserve)."""
    if version == 0:
        proto = next((a["protocol"] for a in actions if "protocol" in a), {})
        conf_src = next((a["metaData"] for a in actions if "metaData" in a), {})
        conf = conf_src.get("configuration") or {}
    else:
        proto = table_protocol(path)
        if "inCommitTimestamps" not in (proto.get("writerFeatures") or []):
            return actions
        _, meta, _ = _read_log(path)
        conf = meta.get("configuration") or {}
    if "inCommitTimestamps" not in (proto.get("writerFeatures") or []):
        return actions
    if conf.get("delta.enableInCommitTimestamps") != "true":
        return actions
    ict = max(int(time.time() * 1000), (_prev_commit_instant(path, version) or 0) + 1)
    ci = next((a for a in actions if "commitInfo" in a), None)
    if ci is None:
        ci = {"commitInfo": {"timestamp": ict}}
    ci["commitInfo"]["inCommitTimestamp"] = ict
    return [ci] + [a for a in actions if "commitInfo" not in a]


def _commit(path: str, version: int, actions: list[dict]) -> None:
    """Atomic exclusive commit of one log version (≈ conditional PUT,
    src/delta_destination.rs:398-402).  A version-checksum sidecar
    (``<version>.crc``, the protocol's VERSION_CHECKSUM file) follows
    best-effort: it is a read-side integrity aid over an already-durable
    commit, so its failure must never fail the write."""
    actions = _with_ict(path, version, actions)
    os.makedirs(_log_dir(path), exist_ok=True)
    create_exclusive(
        _version_file(path, version), "".join(json.dumps(a) + "\n" for a in actions)
    )
    try:
        _write_version_checksum(path, version)
    except Exception:  # noqa: BLE001 — deliberately broad, see docstring
        pass


def _write_version_checksum(path: str, version: int) -> None:
    """``<version>.crc``: post-commit table state counters (tableSizeBytes,
    numFiles, numMetadata, numProtocol — the Delta protocol's version
    checksum), derived from a checkpoint-seeded replay so the cost is
    bounded by CHECKPOINT_INTERVAL, not table age.  Readers can cross-check
    replayed state against it (``validate_table_checksum``)."""
    _, _, adds = _read_log(path, as_of_version=version)
    crc = {
        "tableSizeBytes": sum(int(a.get("size", 0)) for a in adds.values()),
        "numFiles": len(adds),
        "numMetadata": 1,
        "numProtocol": 1,
    }
    tmp = os.path.join(_log_dir(path), f".{version:020d}.crc.tmp")
    with open(tmp, "w") as fh:
        json.dump(crc, fh)
    os.replace(tmp, os.path.join(_log_dir(path), f"{version:020d}.crc"))


@accepts_file_uris
def validate_table_checksum(path: str) -> dict:
    """Cross-check the latest version's replayed state against its ``.crc``
    sidecar; raises on mismatch (a divergent replay means a torn log or a
    non-atomic outside mutation), returns the checksum record.  No-op
    result {"validated": False} when the version has no sidecar (older
    writers)."""
    latest, _, adds = _read_log(path)
    crc_file = os.path.join(_log_dir(path), f"{latest:020d}.crc")
    if not os.path.exists(crc_file):
        return {"validated": False, "version": latest}
    with open(crc_file) as fh:
        crc = json.load(fh)
    got_files = len(adds)
    got_bytes = sum(int(a.get("size", 0)) for a in adds.values())
    if got_files != crc["numFiles"] or got_bytes != crc["tableSizeBytes"]:
        raise RuntimeError(
            f"version checksum mismatch at {path} v{latest}: replay sees "
            f"{got_files} files / {got_bytes} bytes, checksum recorded "
            f"{crc['numFiles']} / {crc['tableSizeBytes']}"
        )
    return {"validated": True, "version": latest, **crc}


# Write a consolidated checkpoint every N commits (delta-spark's default
# interval); log replay cost is then bounded by N regardless of table age.
CHECKPOINT_INTERVAL = 10
# adds per v2-checkpoint sidecar shard: bounds manifest fan-out while
# keeping each sidecar an independently-readable planning unit
V2_SIDECAR_MAX_ADDS = 50_000


@accepts_file_uris
def write_checkpoint(path: str, v2: bool | None = None) -> int:
    """Write a protocol-shaped checkpoint of the CURRENT state (protocol
    + metaData + live adds + latest txn per appId, one action per row with
    exactly one non-null struct column) plus the ``_last_checkpoint``
    pointer file.  Returns the checkpointed version.

    ``v2=None`` auto-selects the layout: the CLASSIC single
    ``<v>.checkpoint.parquet`` unless the table's protocol demands the
    ``v2Checkpoint`` writer feature, in which case the V2 layout is
    written — a UUID-named ``<v>.checkpoint.<uuid>.parquet`` manifest
    holding the non-file actions plus ``sidecar`` references, with the
    add actions sharded into ``_sidecars/<uuid>.parquet`` files
    (``V2_SIDECAR_MAX_ADDS`` per shard, so one manifest scan plans a
    multi-million-file table without reading any add until its sidecar
    is needed).  ``v2=True``/``False`` forces a layout.

    Simplification vs delta-spark: remove tombstones are not carried
    (they exist to guard readers against truncated JSON logs; this writer
    never truncates JSON commits, and vacuum derives deletions from the
    filesystem-vs-live-set difference, not tombstones)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    latest, meta, adds = _read_log(path)
    # collect latest txn per appId: seed from the prior checkpoint, then
    # scan ONLY the JSON commits newer than it — keeping the checkpoint
    # write itself O(CHECKPOINT_INTERVAL), not O(table age)
    txns: dict[str, int] = {}
    prior = _checkpoint_versions(path)
    since = -1
    if prior:
        _, _, txns, _ = _load_checkpoint(path, prior[-1])
        since = prior[-1]
    for f in os.listdir(_log_dir(path)):
        if not f.endswith(".json") or int(f.split(".")[0]) <= since:
            continue
        with open(os.path.join(_log_dir(path), f)) as fh:
            for line in fh:
                if '"txn"' not in line:
                    continue
                action = json.loads(line)
                txn = action.get("txn")
                if txn:
                    txns[txn["appId"]] = max(txns.get(txn["appId"], -1), int(txn["version"]))

    schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        ("clusteringProvider", pa.string()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64()), ("lastUpdated", pa.int64())]),
            ),
            (
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict] = [
        {"protocol": table_protocol(path)},
        {
            "metaData": {
                "id": meta.get("id"),
                "format": {"provider": (meta.get("format") or {}).get("provider", "parquet")},
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": sorted((meta.get("configuration") or {}).items()),
                "createdTime": meta.get("createdTime"),
            }
        },
        *[
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": sorted((a.get("partitionValues") or {}).items()),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "dataChange": bool(a.get("dataChange", True)),
                    "stats": a.get("stats"),
                    "deletionVector": a.get("deletionVector"),
                    "baseRowId": a.get("baseRowId"),
                    "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
                    "clusteringProvider": a.get("clusteringProvider"),
                }
            }
            for a in adds.values()
        ],
        *[
            {"txn": {"appId": app, "version": v, "lastUpdated": None}}
            for app, v in sorted(txns.items())
        ],
        *[
            # only live domains: a checkpoint IS the replay floor, so
            # removed-domain tombstones have nothing older to win against
            {"domainMetadata": {"domain": d, "configuration": c, "removed": False}}
            for d, c in sorted(table_domain_metadata(path).items())
        ],
    ]
    if v2 is None:
        proto = table_protocol(path)
        v2 = proto.get("minWriterVersion", 1) >= 7 and "v2Checkpoint" in (
            proto.get("writerFeatures") or []
        )
    if v2:
        add_rows = [r for r in rows if "add" in r]
        other = [r for r in rows if "add" not in r]
        sidecar_dir = os.path.join(_log_dir(path), "_sidecars")
        os.makedirs(sidecar_dir, exist_ok=True)
        add_schema = pa.schema([schema.field("add")])
        manifest_rows = list(other)
        for lo in range(0, max(len(add_rows), 1), V2_SIDECAR_MAX_ADDS):
            shard = add_rows[lo : lo + V2_SIDECAR_MAX_ADDS]
            sc_name = f"{uuid.uuid4().hex}.parquet"
            sc_full = os.path.join(sidecar_dir, sc_name)
            sc_tmp = sc_full + ".tmp"
            pq.write_table(
                pa.Table.from_pylist(shard, schema=add_schema),
                sc_tmp,
                compression="snappy",
            )
            os.replace(sc_tmp, sc_full)
            manifest_rows.append(
                {"sidecar": {
                    "path": sc_name,
                    "sizeInBytes": os.path.getsize(sc_full),
                    "modificationTime": int(time.time() * 1000),
                }}
            )
        manifest_rows.append({"checkpointMetadata": {"version": latest}})
        man_schema = pa.schema(
            [
                schema.field("protocol"),
                schema.field("metaData"),
                schema.field("txn"),
                schema.field("domainMetadata"),
                (
                    "sidecar",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("sizeInBytes", pa.int64()),
                            ("modificationTime", pa.int64()),
                        ]
                    ),
                ),
                ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            ]
        )
        manifest = os.path.join(
            _log_dir(path),
            f"{latest:020d}.checkpoint.{uuid.uuid4().hex}.parquet",
        )
        # UUID manifest names never collide — write via tmp for atomicity
        # on the same filesystem, then publish
        man_tmp = manifest + ".tmp"
        pq.write_table(
            pa.Table.from_pylist(manifest_rows, schema=man_schema),
            man_tmp,
            compression="snappy",
        )
        os.replace(man_tmp, manifest)
        n_rows = len(manifest_rows)
    else:
        table = pa.Table.from_pylist(rows, schema=schema)
        # uuid-suffixed tmp names: two writers checkpointing the same version
        # concurrently must never interleave into one tmp file — each writes
        # its own and the os.replace loser just overwrites with identical state
        tmp = _checkpoint_file(path, latest) + f".{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, _checkpoint_file(path, latest))  # atomic publish
        n_rows = len(rows)
    hint_tmp = os.path.join(_log_dir(path), f"_last_checkpoint.{uuid.uuid4().hex}.tmp")
    with open(hint_tmp, "w") as fh:
        json.dump({"version": latest, "size": n_rows}, fh)
    os.replace(hint_tmp, os.path.join(_log_dir(path), "_last_checkpoint"))
    return latest


def _maybe_checkpoint(path: str, version: int) -> None:
    """Auto-checkpoint after every CHECKPOINT_INTERVAL-th commit.

    Checkpointing is a read optimization over an ALREADY-DURABLE commit —
    a failure here (disk full, corrupt prior checkpoint) must not surface
    as a failed write: the caller's commit succeeded, and re-running it
    would double-apply.  Log and continue; the next interval retries."""
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        try:
            write_checkpoint(path)
        except Exception as exc:  # noqa: BLE001 — deliberately broad, see above
            import sys

            print(
                f"warning: checkpoint at version {version} failed ({exc}); "
                "log replay falls back to JSON commits",
                file=sys.stderr,
            )


ROW_TRACKING_DOMAIN = "delta.rowTracking"
CLUSTERING_DOMAIN = "delta.clustering"


def _domain_action(domain: str, configuration: str, removed: bool = False) -> dict:
    return {
        "domainMetadata": {
            "domain": domain,
            "configuration": configuration,
            "removed": removed,
        }
    }


@accepts_file_uris
def table_domain_metadata(path: str, as_of_version: int | None = None) -> dict[str, str]:
    """Live domain-metadata configurations (domain → configuration string),
    replayed last-wins per domain (Delta PROTOCOL.md "Domain Metadata"):
    seeded from the newest usable checkpoint, then overlaid with every
    newer JSON commit's ``domainMetadata`` actions; ``removed: true``
    deletes the domain.  Replay cost is bounded by CHECKPOINT_INTERVAL
    commits, same as ``_read_log``."""
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(_log_dir(path)) if f.endswith(".json")
    )
    if as_of_version is not None:
        versions = [v for v in versions if v <= as_of_version]
    ckpts = _checkpoint_versions(path)
    if not versions and not ckpts:
        return {}
    tip = versions[-1] if versions else ckpts[-1]
    usable = [v for v in ckpts if v <= tip]
    domains: dict[str, str] = {}
    if usable:
        _, _, _, domains = _load_checkpoint(path, usable[-1])
        versions = [v for v in versions if v > usable[-1]]
    for v in versions:
        with open(_version_file(path, v)) as fh:
            for line in fh:
                if '"domainMetadata"' not in line:
                    continue
                dm = json.loads(line).get("domainMetadata")
                if not dm:
                    continue
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration") or ""
    return domains


def _multi_feature_upgrade(path: str, writer_features: set[str]) -> list[dict]:
    """One non-downgrading protocol action adding several writer features
    at once (``_protocol_upgrade_actions`` handles one feature per call and
    would compute the second action against a stale current protocol), or
    [] when the current features-form protocol already carries them all."""
    cur = table_protocol(path)
    cr = cur.get("minReaderVersion", 1)
    cw = cur.get("minWriterVersion", 1)
    cur_wf = (
        set(cur.get("writerFeatures") or [])
        if cw >= 7
        else _LEGACY_WRITER_FEATURES.get(cw, set())
    )
    cur_rf = (
        set(cur.get("readerFeatures") or [])
        if cr >= 3
        else _LEGACY_READER_FEATURES.get(cr, set())
    )
    if cw >= 7 and writer_features <= cur_wf:
        return []
    proto: dict = {
        "minReaderVersion": cr,
        "minWriterVersion": 7,
        "writerFeatures": sorted(cur_wf | writer_features),
    }
    if cr >= 3:
        proto["readerFeatures"] = sorted(cur_rf)
    return [{"protocol": proto}]


@accepts_file_uris
def set_domain_metadata(path: str, domain: str, configuration: str) -> None:
    """Commit a user domain-metadata action (writer feature
    ``domainMetadata``) — an atomic, log-replayed key/value channel for
    coordinating external tooling state with table commits.  System
    ``delta.*`` domains are refused here: the spec reserves them for the
    writer feature that owns them (row tracking, clustering)."""
    if domain.startswith("delta."):
        raise ValueError(
            f"domain {domain!r} is system-controlled; delta.* domains are "
            "maintained by their owning feature, not the public setter"
        )
    _check_protocol(path, for_write=True)
    for attempt in range(COMMIT_RETRIES):
        latest, _, _ = _read_log(path)
        actions = [
            _commit_info("SetDomainMetadata"),
            *_multi_feature_upgrade(path, {"domainMetadata"}),
            _domain_action(domain, configuration),
        ]
        try:
            _commit(path, latest + 1, actions)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


@accepts_file_uris
def remove_domain_metadata(path: str, domain: str) -> None:
    """Commit a ``removed: true`` tombstone for a user domain (no-op commit
    is still written if the domain was absent — the tombstone must win
    replay over any concurrent setter)."""
    if domain.startswith("delta."):
        raise ValueError(f"domain {domain!r} is system-controlled")
    _check_protocol(path, for_write=True)
    for attempt in range(COMMIT_RETRIES):
        latest, _, _ = _read_log(path)
        actions = [
            _commit_info("RemoveDomainMetadata"),
            *_multi_feature_upgrade(path, {"domainMetadata"}),
            _domain_action(domain, "", removed=True),
        ]
        try:
            _commit(path, latest + 1, actions)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def _row_tracking_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get("delta.enableRowTracking") == "true"


def _row_id_high_water_mark(path: str) -> int:
    cfg = table_domain_metadata(path).get(ROW_TRACKING_DOMAIN)
    return int(json.loads(cfg)["rowIdHighWaterMark"]) if cfg else -1


def _add_num_records(path: str, add: dict) -> int:
    stats = json.loads(add.get("stats") or "{}")
    n = stats.get("numRecords")
    if n is None:  # foreign writer without stats: one footer read
        import pyarrow.parquet as pq

        n = pq.ParquetFile(os.path.join(path, add["path"])).metadata.num_rows
    return int(n)


def _assign_row_ids(path: str, adds: list[dict], commit_version: int) -> list[dict]:
    """Assign each new add action its fresh ``baseRowId`` range (from the
    domain's high-water mark) and ``defaultRowCommitVersion``; returns the
    domainMetadata action advancing the mark.  Called INSIDE the commit
    retry loop: a lost optimistic race re-reads the mark, so two appends
    can never mint overlapping ranges (the exclusive version file is the
    arbiter)."""
    hw = _row_id_high_water_mark(path)
    for a in adds:
        n = _add_num_records(path, a)
        a["baseRowId"] = hw + 1
        a["defaultRowCommitVersion"] = commit_version
        hw += n
    return [_domain_action(ROW_TRACKING_DOMAIN, json.dumps({"rowIdHighWaterMark": hw}))]


@accepts_file_uris
def enable_row_tracking(path: str) -> None:
    """Writer feature ``rowTracking`` (Delta PROTOCOL.md "Row Tracking"):
    every add action carries a fresh ``baseRowId`` range plus
    ``defaultRowCommitVersion``, and the row-id high-water mark lives in
    the ``delta.rowTracking`` domain.  Enablement backfills the live files
    in ONE commit — dataChange=false re-adds assigning each file its range
    from the files' recorded numRecords (metadata-only; no data read).
    The two materialized-column names the spec reserves at enablement are
    real here: OPTIMIZE and every row-changing DML shape (CoW/MOR UPDATE,
    CoW DELETE, MERGE) preserve stable ids by writing them into the
    rewritten files under those names; RESTORE within the row-tracked
    history reverts ids with the rows.  ``read_delta_with_row_ids``
    surfaces ``_row_id`` / ``_row_commit_version``."""
    _check_protocol(path, for_write=True)
    _, _meta_probe, _ = _read_log(path)
    if _column_mapping_mode(_meta_probe) != "none":
        raise UnsupportedProtocolError(
            "row tracking on a column-mapped table is not supported: the "
            "materialized id columns would need physical-name plumbing"
        )
    for attempt in range(COMMIT_RETRIES):
        latest, meta, adds = _read_log(path)
        if _row_tracking_enabled(meta):
            return
        version = latest + 1
        hw = -1
        readds = []
        for p in sorted(adds):
            a = dict(adds[p])
            n = _add_num_records(path, a)
            a["baseRowId"] = hw + 1
            a["defaultRowCommitVersion"] = version
            a["dataChange"] = False
            hw += n
            readds.append({"add": a})
        conf = dict(meta.get("configuration") or {})
        conf["delta.enableRowTracking"] = "true"
        # spec: reserve the physical column names at enablement so no later
        # schema change can collide with a future materializing writer
        conf.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row-id-col-{uuid.uuid4()}",
        )
        conf.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row-commit-version-col-{uuid.uuid4()}",
        )
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions = [
            _commit_info("EnableRowTracking"),
            *_multi_feature_upgrade(path, {"rowTracking", "domainMetadata"}),
            {"metaData": new_meta},
            _domain_action(
                ROW_TRACKING_DOMAIN, json.dumps({"rowIdHighWaterMark": hw})
            ),
            *readds,
        ]
        try:
            _commit(path, version, actions)
            _maybe_checkpoint(path, version)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def _materialized_col_names(meta: dict) -> tuple[str, str]:
    conf = meta.get("configuration") or {}
    return (
        conf["delta.rowTracking.materializedRowIdColumnName"],
        conf["delta.rowTracking.materializedRowCommitVersionColumnName"],
    )


def _scan_adds_materialized(
    spark: SparkSession,
    path: str,
    meta: dict,
    schema: T.StructType,
    adds: dict[str, dict],
    with_path: bool = False,
) -> DataFrame:
    """Scan ``adds`` with each row's STABLE row id and commit version
    appended under the table's reserved materialized column names —
    ``coalesce(materialized value, baseRowId + position)``, the spec's
    resolution order (a rewritten file physically carries the preserved
    ids of rows it inherited; a fresh append's file has neither column and
    falls back to its baseRowId range).  Scanning a column absent from a
    parquet file yields null, so the coalesce needs no per-file
    branching.  One broadcast of the per-file id map; DVs apply first and
    never shift surviving positions."""
    from pyspark.sql import functions as F

    missing = sorted(p for p, a in adds.items() if a.get("baseRowId") is None)
    if missing:
        raise UnsupportedProtocolError(
            f"files without baseRowId in a row-tracking table (foreign "
            f"writer?): {missing[:3]}"
        )
    mat_id, mat_rcv = _materialized_col_names(meta)
    ext = T.StructType(
        schema.fields
        + [T.StructField(mat_id, T.LongType()), T.StructField(mat_rcv, T.LongType())]
    )
    scan = _scan_adds(spark, path, meta, ext, adds, with_path=True)
    fmap = local_frame(
        spark,
        [
            (
                os.path.abspath(os.path.join(path, p)),
                int(a["baseRowId"]),
                int(a["defaultRowCommitVersion"]),
            )
            for p, a in sorted(adds.items())
        ],
        "__rt_path string, __rt_base long, __rt_dcv long",
    )
    joined = scan.join(F.broadcast(fmap), scan["__path"] == fmap["__rt_path"])
    extra = [scan["__path"], scan["__pos"]] if with_path else []
    return joined.select(
        *schema.fieldNames(),
        F.coalesce(F.col(mat_id), F.col("__rt_base") + F.col("__pos")).alias(mat_id),
        F.coalesce(F.col(mat_rcv), F.col("__rt_dcv")).alias(mat_rcv),
        *extra,
    )


@accepts_file_uris
def read_delta_with_row_ids(spark: SparkSession, path: str) -> DataFrame:
    """Read a row-tracking table with ``_row_id`` and
    ``_row_commit_version`` appended: the MATERIALIZED value when the
    file physically carries one (files rewritten by OPTIMIZE preserve
    inherited ids that way), else the file's ``baseRowId`` + the row's
    physical position (``_metadata.row_index``) and
    ``defaultRowCommitVersion``.  The id map is one row per live FILE
    (metadata-sized — broadcast onto the scan, a map-side hash probe at
    any table size); deletion vectors are applied first and never shift
    surviving rows' positions, so ids are stable under MOR deletes AND
    across compaction."""
    from pyspark.sql import functions as F

    _check_protocol(path, for_write=False)
    _, meta, adds = _read_log(path)
    if not _row_tracking_enabled(meta):
        raise ValueError(f"row tracking is not enabled on {path}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not adds:
        out_schema = T.StructType(
            schema.fields
            + [
                T.StructField("_row_id", T.LongType()),
                T.StructField("_row_commit_version", T.LongType()),
            ]
        )
        return local_frame(spark, [], out_schema)
    mat_id, mat_rcv = _materialized_col_names(meta)
    return _scan_adds_materialized(spark, path, meta, schema, adds).select(
        *schema.fieldNames(),
        F.col(mat_id).alias("_row_id"),
        F.col(mat_rcv).alias("_row_commit_version"),
    )


@accepts_file_uris
def enable_clustering(path: str, columns: list[str]) -> None:
    """Liquid-clustering declaration (writer feature ``clustering``): the
    clustering columns live in the ``delta.clustering`` domain in the
    spec's nested-path form, and OPTIMIZE picks them up automatically —
    z-order interleave across 2+ columns, plain sort for one — stamping
    ``clusteringProvider: "liquid"`` on the rewritten adds.  Re-calling
    with different columns re-clusters lazily (the next OPTIMIZE uses the
    new set; existing files are not rewritten here).  Partition columns
    are refused: a column cannot drive both the directory layout and the
    within-file clustering."""
    if not columns:
        raise ValueError("clustering needs at least one column")
    _check_protocol(path, for_write=True)
    _, meta, _ = _read_log(path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    missing = [c for c in columns if c not in schema.fieldNames()]
    if missing:
        raise ValueError(f"clustering columns not in schema: {missing}")
    overlap = set(columns) & set(meta.get("partitionColumns") or [])
    if overlap:
        raise ValueError(f"clustering columns are partition columns: {sorted(overlap)}")
    config = json.dumps({"clusteringColumns": [[c] for c in columns]})
    for attempt in range(COMMIT_RETRIES):
        latest, _, _ = _read_log(path)
        actions = [
            _commit_info("ClusterBy"),
            *_multi_feature_upgrade(path, {"clustering", "domainMetadata"}),
            _domain_action(CLUSTERING_DOMAIN, config),
        ]
        try:
            _commit(path, latest + 1, actions)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


@accepts_file_uris
def table_cluster_by(path: str) -> list[str]:
    """The table's declared clustering columns ([] when not clustered)."""
    cfg = table_domain_metadata(path).get(CLUSTERING_DOMAIN)
    if not cfg:
        return []
    return [c[0] for c in json.loads(cfg)["clusteringColumns"]]


def _metadata_action(schema: T.StructType, partition_by: list[str] | None = None) -> dict:
    return {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": partition_by or [],
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
    }


def _commit_info(mode: str, partition_by: list[str] | None = None) -> dict:
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": "WRITE",
            "operationParameters": {
                "mode": mode,
                "partitionBy": json.dumps(partition_by or []),
            },
        }
    }


def _commit_checked(
    path: str,
    actions_fn,
    remove_set: set[str],
    validate=None,
) -> None:
    """Optimistic commit loop for transactions that REMOVE files.  Each
    attempt re-reads the log and verifies the snapshot is still valid:
    every file in ``remove_set`` must still be live (another OPTIMIZE/MERGE
    removing it concurrently means our rewritten copies would duplicate its
    rows), and ``validate(live_adds)`` may veto for op-specific reasons
    (MERGE: a concurrently-appended file may hold rows we should have
    matched).  On an invalidated snapshot we raise
    ConcurrentModificationError instead of re-committing stale actions."""
    for attempt in range(COMMIT_RETRIES):
        latest, _, live = _read_log(path)
        missing = remove_set - set(live)
        if missing:
            raise ConcurrentModificationError(
                f"files removed by a concurrent commit: {sorted(missing)[:5]}"
                f"{'...' if len(missing) > 5 else ''}; re-run the operation"
            )
        if validate is not None:
            validate(live)
        try:
            # actions builders that need the final commit version (row
            # tracking stamps defaultRowCommitVersion) declare a parameter
            import inspect

            if inspect.signature(actions_fn).parameters:
                acts = actions_fn(latest + 1)
            else:
                acts = actions_fn()
            _commit(path, latest + 1, acts)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


class ConstraintViolationError(ValueError):
    """Rows being written violate a table CHECK constraint."""


def _constraints_of(meta: dict) -> dict[str, str]:
    prefix = "delta.constraints."
    return {
        k[len(prefix):]: v
        for k, v in (meta.get("configuration") or {}).items()
        if k.startswith(prefix)
    }


def _invariants_of(meta: dict) -> dict[str, str]:
    """Column invariants (the legacy writer-v2 feature): per-field
    ``delta.invariants`` metadata entries in schemaString, each a JSON
    ``{"expression": {"expression": "<sql>"}}``.  Claimed in
    SUPPORTED_WRITER_FEATURES, so every write path MUST enforce them —
    they ride through _enforce_constraints alongside CHECK constraints."""
    out: dict[str, str] = {}

    def walk(fields: list[dict], prefix: str) -> None:
        for f in fields:
            name = prefix + f.get("name", "")
            inv = (f.get("metadata") or {}).get("delta.invariants")
            if inv:
                try:
                    expr = json.loads(inv)["expression"]["expression"]
                except (ValueError, KeyError, TypeError):
                    raise ValueError(
                        f"unparseable delta.invariants on column {name!r}: {inv!r}"
                    ) from None
                out[f"invariant_{name.replace('.', '_')}"] = expr
            ftype = f.get("type")
            if isinstance(ftype, dict) and ftype.get("type") == "struct":
                walk(ftype.get("fields") or [], name + ".")

    schema_str = meta.get("schemaString")
    if schema_str:
        walk(json.loads(schema_str).get("fields") or [], "")
    return out


# Spark-SQL CAST target for each primitive Delta schema type name.
_SQL_TYPE_NAMES = {
    "string": "STRING", "long": "BIGINT", "integer": "INT", "short": "SMALLINT",
    "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP_NTZ",
    "binary": "BINARY",
}


def _sql_type_name(type_json) -> str:
    if isinstance(type_json, str):
        if type_json in _SQL_TYPE_NAMES:
            return _SQL_TYPE_NAMES[type_json]
        if type_json.startswith("decimal("):
            return type_json.upper()
    raise ValueError(
        f"generated columns are supported on primitive types only, got {type_json!r}"
    )


def _generation_exprs(meta: dict) -> dict[str, tuple[str, str]]:
    """Generated columns (writer feature ``generatedColumns`` / legacy v4):
    top-level fields whose metadata carries ``delta.generationExpression``
    → {column: (sql_expr, sql_type)}.  The protocol stores the expression
    in the schemaString, so it survives checkpoints and foreign writers."""
    out: dict[str, tuple[str, str]] = {}
    schema_str = meta.get("schemaString")
    if not schema_str:
        return out
    for f in json.loads(schema_str).get("fields") or []:
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = (expr, _sql_type_name(f.get("type")))
    return out


def _generation_rules(meta: dict) -> dict[str, str]:
    """Every generated column a writer PROVIDES must equal its expression
    (Delta PROTOCOL.md, Writer Requirements for Generated Columns) —
    enforced as null-safe equality in the same one-pass aggregate as CHECK
    constraints.  Columns the writer omits are computed instead
    (_apply_generated), so the rule never fires for them."""
    return {
        f"generated_{col}": f"`{col}` <=> CAST(({expr}) AS {sql_t})"
        for col, (expr, sql_t) in _generation_exprs(meta).items()
    }


def _apply_generated(df: DataFrame, meta: dict) -> DataFrame:
    """Compute any generated column the incoming frame omits (cast to the
    declared type), appended in table-schema order — map-side expressions,
    no shuffle."""
    from pyspark.sql import functions as F

    gens = _generation_exprs(meta)
    missing = [c for c in gens if c not in df.columns]
    for c in missing:
        expr, sql_t = gens[c]
        df = df.withColumn(c, F.expr(expr).cast(sql_t.lower()))
    return df


def _ntz_in_schema(schema: T.StructType) -> bool:
    """True if any (possibly nested) field is TIMESTAMP_NTZ."""
    return "timestamp_ntz" in schema.json()


def _schema_with_generation(
    schema: T.StructType, generated_columns: dict[str, str]
) -> str:
    """schemaString with ``delta.generationExpression`` field metadata
    injected (the protocol's storage for generated columns).  Validates
    every generated column exists and is primitive-typed."""
    sch = json.loads(schema.json())
    by_name = {f["name"]: f for f in sch.get("fields") or []}
    for col, expr in generated_columns.items():
        if col not in by_name:
            raise ValueError(f"generated column {col!r} not in schema")
        _sql_type_name(by_name[col].get("type"))  # primitive-only guard
        md = dict(by_name[col].get("metadata") or {})
        md["delta.generationExpression"] = expr
        by_name[col]["metadata"] = md
        # generated columns are declared nullable: later writers COMPUTE
        # the column (F.expr output is nullable), and a required target
        # would refuse that append on nullability alignment
        by_name[col]["nullable"] = True
    return json.dumps(sch)


def _identity_cols(meta: dict) -> dict[str, dict]:
    """Identity columns (writer feature ``identityColumns`` / legacy v6):
    top-level long fields whose metadata carries ``delta.identity.start`` /
    ``.step`` (``.highWaterMark`` appears after the first assignment,
    ``.allowExplicitInsert`` defaults false)."""
    out: dict[str, dict] = {}
    schema_str = meta.get("schemaString")
    if not schema_str:
        return out
    for f in json.loads(schema_str).get("fields") or []:
        md = f.get("metadata") or {}
        if "delta.identity.start" in md or "delta.identity.step" in md:
            out[f["name"]] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1)),
                "highWaterMark": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None
                ),
                "allowExplicitInsert": bool(md.get("delta.identity.allowExplicitInsert", False)),
            }
    return out


def _apply_identity(df: DataFrame, meta: dict) -> tuple[DataFrame, dict[str, int | None]]:
    """Assign identity values for columns the incoming frame omits.

    Values are ``start + k·step`` with ``k`` strictly beyond the high-water
    mark's k — produced map-side from ``monotonically_increasing_id()``
    (partition-id ⊕ offset), so assignment needs no shuffle and no
    coordination; the spec allows the gaps this leaves.  Returns the frame
    plus the {col: highWaterMark} snapshot the assignment was BASED on —
    the commit loop uses it to detect a concurrent identity writer (two
    writers assigning from the same mark would collide, so that conflict
    must surface, not blind-retry)."""
    from pyspark.sql import functions as F

    ids = _identity_cols(meta)
    based: dict[str, int | None] = {}
    for col, spec in ids.items():
        if col in df.columns:
            if not spec["allowExplicitInsert"]:
                raise ValueError(
                    f"identity column {col!r} is GENERATED ALWAYS: explicit "
                    "values are not allowed (allowExplicitInsert=false)"
                )
            based[col] = spec["highWaterMark"]
            continue
        based[col] = spec["highWaterMark"]
        hw = spec["highWaterMark"]
        next_k = 0 if hw is None else (hw - spec["start"]) // spec["step"] + 1
        df = df.withColumn(
            col,
            (
                F.lit(spec["start"])
                + (F.lit(next_k) + F.monotonically_increasing_id()) * F.lit(spec["step"])
            ).cast("long"),
        )
    return df, based


def _identity_watermarks_from_adds(
    meta: dict, adds: list[dict]
) -> dict[str, int]:
    """New high-water mark per identity column, read from the Add actions'
    file stats (free — no second pass over the data).  step < 0 advances
    the mark downward, so the extremum flips."""
    ids = _identity_cols(meta)
    out: dict[str, int] = {}
    for col, spec in ids.items():
        extremes: list[int] = []
        for a in adds:
            st = a.get("stats")
            if not st:
                continue
            stats = json.loads(st)
            side = "maxValues" if spec["step"] > 0 else "minValues"
            v = (stats.get(side) or {}).get(col)
            if v is not None:
                extremes.append(int(v))
        if not extremes:
            continue
        new = max(extremes) if spec["step"] > 0 else min(extremes)
        hw = spec["highWaterMark"]
        if hw is None or (spec["step"] > 0 and new > hw) or (spec["step"] < 0 and new < hw):
            out[col] = new
    return out


def _schema_with_identity_hw(meta: dict, marks: dict[str, int]) -> str:
    """schemaString with updated ``delta.identity.highWaterMark`` marks."""
    sch = json.loads(meta["schemaString"])
    for f in sch.get("fields") or []:
        if f["name"] in marks:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = marks[f["name"]]
            f["metadata"] = md
    return json.dumps(sch)


def _schema_with_identity_decl(
    schema: T.StructType, identity_columns: dict[str, dict]
) -> str:
    """schemaString declaring identity columns: ``delta.identity.start`` /
    ``.step`` / ``.allowExplicitInsert`` field metadata on long fields
    (``.highWaterMark`` appears after the first assignment)."""
    sch = json.loads(schema.json())
    by_name = {f["name"]: f for f in sch.get("fields") or []}
    for col, spec in identity_columns.items():
        step = int(spec.get("step", 1))
        if step == 0:
            raise ValueError(f"identity column {col!r}: step must be nonzero")
        f = by_name[col]
        if f.get("type") != "long":
            raise ValueError(f"identity column {col!r} must be BIGINT")
        md = dict(f.get("metadata") or {})
        md["delta.identity.start"] = int(spec.get("start", 1))
        md["delta.identity.step"] = step
        md["delta.identity.allowExplicitInsert"] = bool(
            spec.get("allowExplicitInsert", False)
        )
        f["metadata"] = md
        f["nullable"] = True
    return json.dumps(sch)


def table_identity_columns(path: str) -> dict[str, dict]:
    """Identity columns of the table: name -> {start, step, highWaterMark,
    allowExplicitInsert}."""
    _, meta, _ = _read_log(path)
    return _identity_cols(meta)


def table_generated_columns(path: str) -> dict[str, str]:
    """Generated columns of the table: name -> generation expression."""
    _, meta, _ = _read_log(path)
    return {c: expr for c, (expr, _) in _generation_exprs(meta).items()}


def _write_rules(meta: dict) -> dict[str, str]:
    """Everything a write must satisfy: CHECK constraints + column
    invariants + generated-column equality (all evaluate rows the same
    way — expression must be true)."""
    return {**_constraints_of(meta), **_invariants_of(meta), **_generation_rules(meta)}


def table_constraints(path: str) -> dict[str, str]:
    """CHECK constraints of the table: name -> SQL expression, stored as
    ``delta.constraints.<name>`` metaData configuration entries (the Delta
    protocol's CHECK-constraint feature)."""
    _, meta, _ = _read_log(path)
    return _constraints_of(meta)


def check_table_constraints(spark: SparkSession, path: str) -> None:
    """Validate the table's CURRENT rows against every CHECK constraint
    (use before add_check_constraint when existing data must qualify)."""
    _enforce_constraints(read_delta(spark, path), table_constraints(path))


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Raise ConstraintViolationError if any row of ``df`` fails any CHECK
    expression (NULL counts as a violation, per the Delta protocol: the
    expression must evaluate to true).  One pass over the incoming batch —
    all constraints are counted in a single aggregate."""
    from pyspark.sql import functions as F

    if not constraints:
        return
    counts = df.agg(
        *[
            F.sum(
                F.when(F.expr(expr).eqNullSafe(F.lit(True)), 0).otherwise(1)
            ).alias(name)
            for name, expr in constraints.items()
        ]
    ).first()
    bad = {name: counts[name] for name in constraints if (counts[name] or 0) > 0}
    if bad:
        detail = ", ".join(
            f"{name} ({constraints[name]!r}): {n} rows" for name, n in sorted(bad.items())
        )
        raise ConstraintViolationError(f"CHECK constraint violation: {detail}")


def add_check_constraint(path: str, name: str, expr: str) -> None:
    """Add a CHECK constraint: every future write/append/merge/update
    enforces ``expr`` over its incoming rows.

    Commits an updated metaData (configuration gains
    ``delta.constraints.<name>``) plus a protocol bump to minWriter=3, the
    version real Delta requires of constraint-aware writers — an older
    writer must refuse to write blind, exactly the protection the bump
    provides.  This function is metadata-only (no SparkSession needed);
    validating that EXISTING rows already satisfy the expression is the
    caller's job — run the table through ``check_table_constraints``
    first when that matters."""
    if not name.isidentifier():
        raise ValueError(f"constraint name {name!r} must be an identifier")
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name}"
        if key in conf:
            raise ValueError(f"constraint {name!r} already exists on {path}")
        conf[key] = expr
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        # Never downgrade: on a table-features table (e.g. after a DV
        # write put it at reader 3/writer 7) this merges checkConstraints
        # into the existing feature lists instead of stamping a legacy
        # {1,3} over them — which would strip the deletionVectors reader
        # gate while live adds still carry DVs.
        proto_actions = _protocol_upgrade_actions(
            path, writer_feature="checkConstraints", legacy_writer=3
        )
        actions = [
            *proto_actions,
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "ADD CONSTRAINT",
                    "operationParameters": {"name": name, "expr": expr},
                }
            },
        ]
        try:
            _commit(path, latest + 1, actions)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def drop_check_constraint(path: str, name: str) -> None:
    """Remove a CHECK constraint (metadata-only commit; the protocol stays
    at the bumped version — Delta never downgrades protocols)."""
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name}"
        if key not in conf:
            raise ValueError(f"no constraint {name!r} on {path}")
        del conf[key]
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions = [
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "DROP CONSTRAINT",
                    "operationParameters": {"name": name},
                }
            },
        ]
        try:
            _commit(path, latest + 1, actions)
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


@accepts_file_uris
def write_delta(
    df: DataFrame,
    path: str,
    overwrite: bool = False,
    append: bool = False,
    max_rows_per_file: int = MAX_ROWS_PER_FILE,
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    bloom_filter_columns: list[str] | None = None,
    sort_by: list[str] | None = None,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict] | None = None,
    in_commit_timestamps: bool = False,
) -> None:
    """Write ``df`` as a Delta table with the reference's mode semantics:
    default create-exclusive, overwrite deletes existing state first
    (src/delta_destination.rs:414-432), append (engine extension beyond the
    reference's Delta CLI surface) validates positional schema alignment
    then commits new Add actions with optimistic retry.

    ``merge_schema=True`` (append only) switches the alignment contract to
    BY-NAME schema evolution (Delta's ``mergeSchema``): new columns are
    appended to the table schema as nullable and the commit carries an
    updated metaData action (same table id); columns the append omits stay
    and read as null from the new files; a type conflict still fails.  The
    merged schema is recomputed against the freshest log snapshot on every
    commit attempt, so a concurrent evolved append cannot be clobbered by a
    stale metaData.

    Deliberate deviation: on an existing table without --overwrite the
    reference logs "pass --overwrite" and returns Ok WITHOUT writing
    (src/delta_destination.rs:421-427).  We raise TargetExistsError instead
    — a silent no-op success hides data-loss-shaped mistakes from callers;
    scripted pipelines need the non-zero exit.  The CLI catches this and
    prints the reference's message (cli.py)."""
    mode = resolve_write_mode(overwrite, append)
    exists = table_exists(path)
    txn_actions = (
        [{"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": int(time.time() * 1000)}}]
        if txn
        else []
    )

    if mode is WriteMode.CREATE_EXCLUSIVE and exists:
        raise TargetExistsError(f"delta table already exists at {path}")

    if mode is WriteMode.OVERWRITE and os.path.isdir(path):
        shutil.rmtree(path)
        exists = False

    os.makedirs(path, exist_ok=True)

    if mode is WriteMode.APPEND and exists:
        _check_protocol(path, for_write=True)
        _, meta, _ = _read_log(path)
        mapped = _column_mapping_mode(meta) != "none"
        if mapped and merge_schema:
            raise UnsupportedProtocolError(
                "mergeSchema appends into a column-mapped table are not "
                "supported: evolve the schema via add_column/rename_column"
            )
        if generated_columns or identity_columns:
            raise ValueError(
                "generated_columns/identity_columns are table-creation "
                "options; appends inherit the table's declarations"
            )
        df = _apply_generated(df, meta)
        df, based_hw = _apply_identity(df, meta)
        if not merge_schema:
            check_schema_aligned(df.schema, table_schema(path))
        _enforce_constraints(df, _write_rules(meta))
        if mapped:
            if _identity_cols(meta):
                raise UnsupportedProtocolError(
                    "appends into a column-mapped table with identity "
                    "columns are not supported: watermark recovery reads "
                    "file stats by logical name"
                )
            # constraints/generation evaluated on LOGICAL names above; the
            # parquet files must carry PHYSICAL names (delta.columnMapping
            # writer requirement) so mapping-aware readers resolve them —
            # stats keys follow automatically (computed from written files)
            from pyspark.sql import functions as F

            logical = table_schema(path)
            phys = _physical_read_plan(meta, logical)
            df = df.select(
                *[
                    F.col(l).alias(pf.name)
                    for l, pf in zip(logical.fieldNames(), phys.fields)
                ]
            )
        table_parts = meta.get("partitionColumns") or None
        adds = _write_parts(
            df, path, max_rows_per_file, table_parts, bloom_filter_columns, sort_by
        )
        new_marks = _identity_watermarks_from_adds(meta, adds)
        # append adds files only (no removes) — blind re-commit after a
        # conflicting concurrent commit is safe; the evolved metaData (if
        # any) is re-derived from each attempt's fresh snapshot
        for attempt in range(COMMIT_RETRIES):
            latest, meta, _ = _read_log(path)
            if based_hw:
                # identity assignment is only valid against the mark it was
                # based on — a concurrent writer that advanced it may have
                # taken the same value range, so this append must NOT blind
                # re-commit (spec: two identity writers are a real conflict)
                fresh = _identity_cols(meta)
                stale = {
                    c for c, hw in based_hw.items()
                    if fresh.get(c, {}).get("highWaterMark") != hw
                }
                if stale:
                    raise ConcurrentModificationError(
                        f"identity high-water mark moved during append for "
                        f"{sorted(stale)}: a concurrent writer assigned from "
                        "the same range — retry the write"
                    )
            meta_actions: list[dict] = []
            if merge_schema:
                table_sch = T.StructType.fromJson(json.loads(meta["schemaString"]))
                merged = merge_schemas(table_sch, df.schema)
                if merged.json() != table_sch.json():
                    new_meta = dict(meta)
                    new_meta["schemaString"] = merged.json()
                    meta_actions = [{"metaData": new_meta}]
            if new_marks:
                new_meta = dict(meta)
                if meta_actions:  # merge-schema already staged a metaData
                    new_meta = meta_actions[0]["metaData"]
                new_meta["schemaString"] = _schema_with_identity_hw(
                    new_meta, new_marks
                )
                meta_actions = [{"metaData": new_meta}]
            ntz_proto: list[dict] = []
            if _ntz_in_schema(df.schema):
                # first NTZ column arriving via evolution: the feature
                # demand rides in the same commit as the column
                ntz_proto = _protocol_upgrade_actions(
                    path,
                    writer_feature="timestampNtz",
                    reader_feature="timestampNtz",
                    force_features=True,
                )
            rt_actions: list[dict] = []
            if _row_tracking_enabled(meta):
                # inside the retry loop: a lost race re-reads the mark, so
                # concurrent appends never mint overlapping id ranges
                rt_actions = _assign_row_ids(path, adds, latest + 1)
            append_actions = [
                _commit_info("Append", table_parts),
                *ntz_proto,
                *meta_actions,
                *txn_actions,
                *rt_actions,
                *[{"add": a} for a in adds],
            ]
            try:
                _commit(path, latest + 1, append_actions)
                _maybe_checkpoint(path, latest + 1)
                return
            except FileExistsError:
                if attempt == COMMIT_RETRIES - 1:
                    raise
        return

    # create (or post-overwrite create): v0 = protocol+metaData, v1 = adds
    protocol = {"minReaderVersion": 1, "minWriterVersion": 1}
    features: list[str] = []
    if generated_columns:
        from pyspark.sql import functions as F

        for col, expr in generated_columns.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
        meta_probe = {
            "schemaString": _schema_with_generation(df.schema, generated_columns)
        }
        # provided values must already satisfy their expressions
        _enforce_constraints(df, _generation_rules(meta_probe))
        features.append("generatedColumns")
    schema_str: str | None = None
    if identity_columns:
        from pyspark.sql import functions as F

        for col, spec in identity_columns.items():
            if col in df.columns:
                raise ValueError(
                    f"identity column {col!r} is GENERATED ALWAYS: it must "
                    "not be in the incoming frame at creation"
                )
            df = df.withColumn(col, F.lit(None).cast("long"))
        schema_str = _schema_with_identity_decl(df.schema, identity_columns)
        df = df.drop(*identity_columns.keys())
        df, _ = _apply_identity(df, {"schemaString": schema_str})
        features.append("identityColumns")
    if in_commit_timestamps:
        features.append("inCommitTimestamps")
    reader_features: list[str] = []
    if _ntz_in_schema(df.schema):
        # PROTOCOL.md: a schema containing TIMESTAMP_NTZ demands the
        # timestampNtz reader+writer feature — without it, feature-aware
        # external readers reject (or worse, misread) the column
        features.append("timestampNtz")
        reader_features.append("timestampNtz")
    if features:
        # the features form states exactly what is active — the legacy
        # encodings (minWriter 4/6) would imply changeDataFeed too
        protocol = {
            "minReaderVersion": 3 if reader_features else 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(features),
        }
        if reader_features:
            protocol["readerFeatures"] = sorted(reader_features)
    adds = _write_parts(
        df, path, max_rows_per_file, partition_by, bloom_filter_columns, sort_by
    )
    meta_action = _metadata_action(df.schema, partition_by)
    if generated_columns:
        schema_str = _schema_with_generation(
            T.StructType.fromJson(json.loads(schema_str)) if schema_str else df.schema,
            generated_columns,
        )
    if schema_str:
        meta_action["metaData"]["schemaString"] = schema_str
    if in_commit_timestamps:
        meta_action["metaData"]["configuration"] = {
            **meta_action["metaData"].get("configuration", {}),
            "delta.enableInCommitTimestamps": "true",
            "delta.inCommitTimestampEnablementVersion": "0",
        }
    _commit(
        path,
        0,
        [
            {"protocol": protocol},
            meta_action,
            _commit_info("CreateTable", partition_by),
        ],
    )
    v1_meta_actions: list[dict] = []
    if identity_columns:
        marks = _identity_watermarks_from_adds(meta_action["metaData"], adds)
        if marks:
            new_meta = dict(meta_action["metaData"])
            new_meta["schemaString"] = _schema_with_identity_hw(new_meta, marks)
            v1_meta_actions = [{"metaData": new_meta}]
    _commit(
        path,
        1,
        [
            _commit_info("Append", partition_by),
            *v1_meta_actions,
            *txn_actions,
            *[{"add": a} for a in adds],
        ],
    )


def _physical_read_plan(meta: dict, schema: T.StructType):
    """Column mapping (reader feature): for mode ``name`` return the
    PHYSICAL StructType to scan parquet with (each field's
    ``delta.columnMapping.physicalName`` metadata), or None when the
    table is unmapped.  Mode ``id`` (parquet field-id resolution) and
    nested/partitioned mapped tables refuse loudly — reading them with
    name resolution would silently misbind columns."""
    mode = _column_mapping_mode(meta)
    if mode == "none":
        return None
    if mode != "name":
        raise UnsupportedProtocolError(
            f"delta.columnMapping.mode={mode!r} is not supported (only "
            "'name'); id mode needs parquet field-id resolution"
        )
    if meta.get("partitionColumns"):
        raise UnsupportedProtocolError(
            "column-mapped PARTITIONED tables are not supported: partition "
            "values are keyed by physical name in the log"
        )
    fields = []
    for f in schema.fields:
        nested_json = json.dumps(f.dataType.jsonValue())
        if "delta.columnMapping.physicalName" in nested_json:
            raise UnsupportedProtocolError(
                f"nested column mapping on field {f.name!r} is not supported"
            )
        phys = (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        fields.append(T.StructField(phys, f.dataType, f.nullable))
    return T.StructType(fields)


def _file_reader(spark: SparkSession, path: str, meta: dict, schema: T.StructType):
    """Reader for a subset of a table's data files; partitioned tables need
    basePath so directory-encoded partition values are re-derived."""
    reader = spark.read.schema(schema)
    if meta.get("partitionColumns"):
        reader = reader.option("basePath", path)
    return reader


# positions frames up to this cardinality broadcast for the DV anti-join;
# bigger delete sets fall back to a shuffled join (AQE picks the strategy)
# rather than forcing an executor-memory-sized broadcast
DV_BROADCAST_MAX = 4_000_000


def _dv_positions_frame(
    spark: SparkSession, path: str, dv_adds: dict[str, dict]
) -> tuple[DataFrame, int]:
    """The deleted positions of ``dv_adds`` as a (__dv_path, __dv_pos)
    DataFrame, plus their total cardinality.  The driver reads the
    CRC-checked bitmap blobs and turns them into one row per touched
    32,768-position bucket (~4 KB at most each, the same bound the write
    path keeps); positions expand executor-side in the JVM
    (``dv.positions_frame``, shared with the Iceberg DV read path).
    Cardinality for the broadcast gate comes from the descriptors, so no
    decode is needed to decide."""
    from lakehouse_loader_spark.sinks import dv as dvmod

    blobs, total = [], 0
    for rel, add in sorted(dv_adds.items()):
        desc = add["deletionVector"]
        total += int(desc.get("cardinality") or 0)
        blobs.append(
            (
                os.path.abspath(os.path.join(path, rel)),
                dvmod.load_descriptor_bytes(path, desc),
            )
        )
    return dvmod.positions_frame(spark, blobs, "__dv_path", "__dv_pos"), total


def _scan_adds(
    spark: SparkSession,
    path: str,
    meta: dict,
    schema: T.StructType,
    adds: dict[str, dict],
    with_path: bool = False,
):
    """Scan a set of live add actions with their deletion vectors applied —
    the merge-on-read read half for Delta, the format twin of the Iceberg
    sink's ``_apply_pos_deletes``.

    DV'd rows are dropped by ONE anti-join on (file path, row position):
    positions come from ``_metadata.row_index`` (stable parquet row
    numbering), the delete side is metadata-sized (rows deleted since the
    last purge) and broadcasts below DV_BROADCAST_MAX, so at cluster scale
    this is a map-side hash probe against the full scan.  ``with_path``
    keeps the decoded ``__path``/``__pos`` helper columns for callers that
    need per-file attribution (the DML probe)."""
    from pyspark.sql import functions as F

    files = [os.path.join(path, p) for p in sorted(adds)]
    if not files:
        raise ValueError("_scan_adds needs a non-empty add set")
    dv_adds = {p: a for p, a in adds.items() if a.get("deletionVector")}
    phys = _physical_read_plan(meta, schema)
    read_schema = phys or schema
    reader = _file_reader(spark, path, meta, read_schema)
    rename = [
        F.col(p).alias(l)
        for p, l in zip(read_schema.fieldNames(), schema.fieldNames())
    ]
    if not dv_adds and not with_path:
        out = reader.parquet(*files)
        return out.select(*rename) if phys is not None else out
    from lakehouse_loader_spark.sinks.iceberg import _decode_scan_path

    scan = reader.parquet(*files).select(
        *rename,
        _decode_scan_path(F.col("_metadata.file_path")).alias("__path"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    if dv_adds:
        dels, total = _dv_positions_frame(spark, path, dv_adds)
        if total <= DV_BROADCAST_MAX:
            dels = F.broadcast(dels)
        scan = scan.join(
            dels,
            (scan["__path"] == dels["__dv_path"])
            & (scan["__pos"] == dels["__dv_pos"]),
            "left_anti",
        )
    return scan if with_path else scan.drop("__path", "__pos")


def _dv_unchanged_validator(snapshot_adds: dict[str, dict], remove_set: set[str]):
    """_commit_checked validate hook: every file this transaction removes
    must still carry the SAME deletion vector it had in our snapshot — a
    concurrent MOR delete that landed a new DV on one of them would be
    silently undone by our remove+rewrite (its deleted rows resurrected
    from our pre-DV copy)."""

    def validate(live: dict[str, dict]) -> None:
        for p in remove_set:
            if p in live and (live[p].get("deletionVector") or None) != (
                snapshot_adds[p].get("deletionVector") or None
            ):
                raise ConcurrentModificationError(
                    f"deletion vector of {p} changed under this transaction; "
                    "re-run against the new snapshot"
                )

    return validate


@accepts_file_uris
def enable_in_commit_timestamps(path: str) -> None:
    """Enable in-commit timestamps on an existing table: protocol feature
    + ``delta.enableInCommitTimestamps`` + the spec's enablement
    provenance (version/timestamp), all in ONE commit that itself carries
    the first inCommitTimestamp."""
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        proto_actions = _protocol_upgrade_actions(
            path, writer_feature="inCommitTimestamps", force_features=True
        )
        ict = max(
            int(time.time() * 1000), (_prev_commit_instant(path, latest + 1) or 0) + 1
        )
        new_meta = dict(meta)
        conf = dict(meta.get("configuration") or {})
        conf["delta.enableInCommitTimestamps"] = "true"
        conf["delta.inCommitTimestampEnablementVersion"] = str(latest + 1)
        conf["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        new_meta["configuration"] = conf
        actions = [
            {"commitInfo": {"timestamp": ict, "inCommitTimestamp": ict,
                            "operation": "UPGRADE"}},
            *proto_actions,
            {"metaData": new_meta},
        ]
        try:
            _commit(path, latest + 1, actions)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def version_as_of(path: str, timestamp_ms: int) -> int:
    """AS OF TIMESTAMP resolution for the Delta log: the latest version
    whose commit timestamp (commitInfo.inCommitTimestamp when the table
    records them — the instant that survives object-store copies — else
    commitInfo.timestamp, falling back to the commit file's mtime) is ≤
    the instant — Delta's time-travel-by-time rule.  Raises if no commit
    is that old."""
    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    best = None
    for entry in table_history(path):
        ts = entry.get("inCommitTimestamp") or entry["timestamp"]
        if ts is None:
            ts = int(os.path.getmtime(_version_file(path, entry["version"])) * 1000)
        if ts <= timestamp_ms and (best is None or entry["version"] > best):
            best = entry["version"]
    if best is None:
        raise ValueError(f"no commit of {path} at or before timestamp {timestamp_ms}")
    return best


@accepts_file_uris
def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_timestamp_ms: int | None = None,
) -> DataFrame:
    """Read a Delta table by replaying its transaction log (adds minus
    removes) — no connector JAR required.  ``version`` time-travels to an
    earlier snapshot; ``as_of_timestamp_ms`` resolves AS OF TIMESTAMP
    semantics via ``version_as_of``."""
    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    if version is not None and as_of_timestamp_ms is not None:
        raise ValueError("pass version or as_of_timestamp_ms, not both")
    if as_of_timestamp_ms is not None:
        version = version_as_of(path, as_of_timestamp_ms)
    _check_protocol(path, for_write=False)
    _, meta, adds = _read_log(path, as_of_version=version)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not adds:
        return local_frame(spark, [], schema)
    return _scan_adds(spark, path, meta, schema, adds)


@accepts_file_uris
def read_delta_appends(
    spark: SparkSession, path: str, since_version: int, end_version: int | None = None
) -> DataFrame:
    """Rows ADDED after ``since_version`` (exclusive) up to ``end_version``
    (inclusive; default latest) — incremental consumption of an append-only
    table, the batch-CDC pattern a downstream pipeline uses to process only
    new data per run ("give me everything since the version I checkpointed").

    File-level change feed: the delta between the two snapshots' live-add
    sets is computed from the LOG ONLY (no data files are opened for
    planning, so planning cost is O(log segment), not O(table)).  Raises if
    any file live at ``since_version`` was since removed or rewritten —
    OPTIMIZE/MERGE/overwrite change history, not just append to it, and a
    file-level feed cannot attribute row-level changes (that needs real
    row-tracking CDF); failing loudly beats silently double-counting
    compacted rows."""
    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    _check_protocol(path, for_write=False)
    _, meta_old, adds_old = _read_log(path, as_of_version=since_version)
    latest, meta, adds_new = _read_log(path, as_of_version=end_version)
    gone = sorted(set(adds_old) - set(adds_new))
    if gone:
        raise ConcurrentModificationError(
            f"files live at version {since_version} were removed by "
            f"version {end_version if end_version is not None else latest} "
            f"(e.g. {gone[0]}): history is not append-only over this range, "
            "so an append feed would miscount; re-read the full snapshot"
        )
    # a deletion vector landing (or changing) on a file live at the floor
    # version is a row-level delete of PRE-WINDOW rows — same violation of
    # the append-only contract as a removed file, just encoded
    # merge-on-read.  (A DV on a file ADDED in-window only cancels rows
    # the window itself added; the net rows are still a pure append, so
    # those scan below with their DV applied.)
    dv_changed = sorted(
        p
        for p, a in adds_new.items()
        if p in adds_old
        and (a.get("deletionVector") or None)
        != (adds_old[p].get("deletionVector") or None)
    )
    if dv_changed:
        raise ConcurrentModificationError(
            f"deletion vectors changed after version {since_version} "
            f"(e.g. {dv_changed[0]}): history is not append-only over this "
            "range; re-read the full snapshot"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    fresh = sorted(set(adds_new) - set(adds_old))
    if not fresh:
        return local_frame(spark, [], schema)
    return _scan_adds(
        spark, path, meta, schema, {p: adds_new[p] for p in fresh}
    )


@accepts_file_uris
def read_delta_changes(
    spark: SparkSession, path: str, since_version: int, end_version: int | None = None
) -> DataFrame:
    """Row-level change feed (the Delta Change Data Feed read surface,
    computed from the transaction log instead of persisted _change_data
    files): every row inserted or deleted after ``since_version``
    (exclusive) up to ``end_version`` (inclusive; default latest), as the
    table columns plus ``_change_type`` ('insert' | 'delete') and
    ``_commit_version``.  An UPDATE/MERGE surfaces as delete+insert of the
    changed rows (without persisted row tracking, pre/post images cannot be
    paired — documented deviation from connector CDF).

    Per-commit derivation:

    - append-only commit → its added files' rows are inserts
    - compaction (every remove carries dataChange=false: OPTIMIZE,
      Z-ORDER) → no logical change, skipped entirely
    - data-rewriting commit (DELETE / UPDATE / MERGE / RESTORE) →
      multiset row diff of the removed vs added files: removed-side rows
      not re-added are deletes, added-side rows not present before are
      inserts — exactly the matched rows for a copy-on-write rewrite

    Scale shape: planning is log-only; data reads and the exceptAll diffs
    touch only the files the changed commits reference, never the whole
    table.  Raises if a needed pre-image file was vacuumed."""
    from pyspark.sql import functions as F

    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    _check_protocol(path, for_write=False)
    latest, meta_end, _ = _read_log(path, as_of_version=end_version)
    _read_log(path, as_of_version=since_version)  # validates the floor exists
    end = latest if end_version is None else end_version
    final_schema = T.StructType.fromJson(json.loads(meta_end["schemaString"]))
    out_cols = [f.name for f in final_schema.fields]

    def _empty() -> DataFrame:
        return local_frame(spark, [], final_schema).select(
            *out_cols,
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_version"),
        ).limit(0)

    # walk the commits once, tracking the active schema (evolution-aware)
    # AND the live-add state (deletion-vector-aware: each side of a commit
    # must be read under ITS OWN DV — the pre-image with the descriptor the
    # file had before the commit, the post-image with the new one, so a
    # merge-on-read DELETE diffs to exactly its newly-deleted rows)
    _, meta_cur, state = _read_log(path, as_of_version=since_version)
    pieces: list[DataFrame] = []
    for v in range(since_version + 1, end + 1):
        vf = _version_file(path, v)
        if not os.path.exists(vf):
            continue
        adds_v: list[dict] = []
        removes_v: list[dict] = []
        cdc_v: list[dict] = []
        with open(vf) as fh:
            for line in fh:
                action = json.loads(line)
                if "metaData" in action:
                    meta_cur = action["metaData"]
                elif "add" in action:
                    adds_v.append(action["add"])
                elif "remove" in action:
                    removes_v.append(action["remove"])
                elif "cdc" in action:
                    cdc_v.append(action["cdc"])
        pre_state = {r["path"]: state[r["path"]] for r in removes_v if r["path"] in state}
        for r in removes_v:
            state.pop(r["path"], None)
        for a in adds_v:
            state[a["path"]] = a
        if not adds_v and not removes_v:
            continue
        if removes_v and all(not r.get("dataChange", True) for r in removes_v):
            continue  # compaction: bytes moved, no rows changed
        schema_v = T.StructType.fromJson(json.loads(meta_cur["schemaString"]))

        if cdc_v:
            # protocol rule: a commit carrying cdc actions records its
            # COMPLETE change set there (incl. update pre/post images the
            # log diff cannot pair) — use only them, no derivation
            frames: list[DataFrame] = []
            for c in cdc_v:
                full = os.path.join(path, c["path"])
                if not os.path.exists(full):
                    raise FileNotFoundError(
                        f"change feed for {path} v{v} needs vacuumed cdc "
                        f"file {c['path']}"
                    )
                fdf = spark.read.parquet(full)
                for pcol, pval in (c.get("partitionValues") or {}).items():
                    if pcol not in fdf.columns:
                        fdf = fdf.withColumn(
                            pcol, F.lit(pval).cast(schema_v[pcol].dataType)
                        )
                frames.append(fdf)
            cdf = frames[0]
            for fdf in frames[1:]:
                cdf = cdf.unionByName(fdf, allowMissingColumns=True)
            cols = [
                F.col(c) if c in cdf.columns else F.lit(None).cast(f.dataType).alias(c)
                for c, f in zip(out_cols, final_schema.fields)
            ]
            pieces.append(
                cdf.select(
                    *cols,
                    F.col("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
            )
            continue

        def _rows(add_dicts: list[dict]) -> DataFrame | None:
            if not add_dicts:
                return None
            missing = [
                a["path"]
                for a in add_dicts
                if not os.path.exists(os.path.join(path, a["path"]))
            ]
            if missing:
                raise FileNotFoundError(
                    f"change feed for {path} v{v} needs vacuumed files: {missing[:5]}"
                )
            return _scan_adds(
                spark, path, meta_cur, schema_v, {a["path"]: a for a in add_dicts}
            )

        def _align(df: DataFrame, change: str) -> DataFrame:
            cols = [
                F.col(c) if c in df.columns else F.lit(None).cast(f.dataType).alias(c)
                for c, f in zip(out_cols, final_schema.fields)
            ]
            return df.select(
                *cols,
                F.lit(change).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        added = _rows([a for a in adds_v if a.get("dataChange", True)])
        removed = _rows(
            [
                pre_state.get(r["path"], {"path": r["path"]})
                for r in removes_v
                if r.get("dataChange", True)
            ]
        )
        if removed is None:
            if added is not None:
                pieces.append(_align(added, "insert"))
            continue
        new_side = added if added is not None else local_frame(spark, [], schema_v)
        pieces.append(_align(removed.exceptAll(new_side), "delete"))
        pieces.append(_align(new_side.exceptAll(removed), "insert"))

    if not pieces:
        return _empty()
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


@accepts_file_uris
def optimize_delta(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    max_rows_per_file: int = MAX_ROWS_PER_FILE,
    small_file_threshold: int | None = None,
    where: list | None = None,
) -> None:
    """OPTIMIZE-style compaction: rewrite the live file set into
    ``target_partitions`` files per partition directory and commit
    remove+add actions as one new version.  Old files stay on disk, so time
    travel to pre-compaction versions keeps working.

    ``small_file_threshold`` (bytes) switches to BIN-PACKING compaction —
    the incremental form real tables need: only files smaller than the
    threshold are rewritten (packed toward threshold-sized outputs),
    already-large files carry over untouched.  A steady stream of small
    appends then compacts at cost proportional to the SMALL bytes, not
    the table — at 100 TB a full rewrite per OPTIMIZE is not a plan.
    No-op when fewer than two files qualify.

    ``sort_by`` clusters rows within the rewritten files (the reference's
    explicit pre-write-sorting TODO, src/lib.rs:202) — sorted clustering
    tightens per-file min/max stats so data skipping prunes harder.
    ``zorder_by`` (mutually exclusive) interleaves several columns' ranks
    (operators/zorder.py) so stats stay tight on EVERY listed column —
    skipping then works for predicates on any of them.

    ``where`` (CNF predicates, plan_delta_scan grammar) scopes the rewrite
    to the files the predicate can touch — OPTIMIZE WHERE, the Iceberg
    twin's semantics: non-matching files carry over untouched; composes
    with ``small_file_threshold``; refused with ``zorder_by``."""
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if where is not None and zorder_by:
        raise ValueError(
            "zorder_by promises table-wide clustering; a scoped rewrite "
            "would cluster only the matching subset — run a full OPTIMIZE "
            "to Z-order"
        )
    _check_protocol(path, for_write=True)
    latest, meta, adds = _read_log(path)
    # row tracking survives OPTIMIZE: the rewrite scans with stable ids
    # resolved (coalesce of materialized/computed) and writes them INTO
    # the new files under the reserved materialized column names — the
    # spec's preservation mechanism; fresh baseRowId ranges still stamp
    # the new adds (readers prefer the materialized values)
    rt = _row_tracking_enabled(meta)
    cluster_cols: list[str] = []
    range_cluster: list[str] = []
    if not sort_by and not zorder_by and where is None and small_file_threshold is None:
        # liquid clustering: a plain full OPTIMIZE on a clustered table
        # re-clusters on the declared columns automatically — multi-column
        # via z-order interleave, single-column via RANGE partition + sort
        # (per-file sorting alone cannot tighten the files' global
        # [min,max] ranges; disjoint ranges are what let stats pruning
        # skip whole files)
        cluster_cols = table_cluster_by(path)
        if len(cluster_cols) > 1:
            zorder_by = cluster_cols
        elif cluster_cols:
            range_cluster = cluster_cols
            sort_by = cluster_cols
    part_cols = meta.get("partitionColumns") or None
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if where is not None:
        plan = plan_delta_scan(path, where, _snapshot=(meta, adds))
        scoped = set(plan["files"])
        adds = {p: a for p, a in adds.items() if p in scoped}
        has_dv = any(a.get("deletionVector") for a in adds.values())
        if not adds or (len(adds) < 2 and small_file_threshold is None and not has_dv):
            return  # nothing in scope worth rewriting
        if small_file_threshold is None:
            df = (
                _scan_adds_materialized(spark, path, meta, schema, adds)
                if rt
                else _scan_adds(spark, path, meta, schema, adds).select(
                    *schema.fieldNames()
                )
            )
    if small_file_threshold is not None:
        if small_file_threshold < 1:
            raise ValueError("small_file_threshold must be >= 1 byte")
        if target_partitions != 1:
            raise ValueError(
                "bin-packing derives its own output count from the small "
                "bytes; don't combine small_file_threshold with "
                "target_partitions"
            )
        if zorder_by:
            raise ValueError(
                "zorder_by promises table-wide clustering; combining it "
                "with bin-packing would cluster only the rewritten subset "
                "— run a full OPTIMIZE to Z-order"
            )
        # (sort_by stays allowed: it clusters WITHIN the newly packed
        # files, which is exactly its per-file stats contract)
        # DV'd files always qualify regardless of size: bin-packing is also
        # the PURGE path that folds deletion vectors back into clean files
        small = {
            p: a
            for p, a in adds.items()
            if a.get("size", 0) < small_file_threshold or a.get("deletionVector")
        }
        if len(small) < 2 and not any(
            a.get("deletionVector") for a in small.values()
        ):
            return  # nothing worth packing
        small_bytes = sum(a.get("size", 0) for a in small.values())
        target_partitions = max(1, small_bytes // small_file_threshold)
        df = (
            _scan_adds_materialized(spark, path, meta, schema, small)
            if rt
            else _scan_adds(spark, path, meta, schema, small).select(
                *schema.fieldNames()
            )
        )
        adds = small  # only these are removed below
    elif where is None:
        df = (
            _scan_adds_materialized(spark, path, meta, schema, adds)
            if rt
            else read_delta(spark, path)
        )
    # (where-scoped full rewrite already built df from the scoped adds)
    if zorder_by:
        from lakehouse_loader_spark.operators.zorder import zorder_layout

        df = zorder_layout(df, zorder_by, target_partitions)
    elif range_cluster and not part_cols:
        from pyspark.sql import functions as F

        df = df.repartitionByRange(
            target_partitions, *[F.col(c) for c in range_cluster]
        )
    elif not part_cols:
        df = df.coalesce(target_partitions)
    else:
        df = df.repartition(target_partitions, *part_cols)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    new_adds = _write_parts(df, path, max_rows_per_file, part_cols)
    for a in new_adds:
        # compaction rearranges bytes, not rows: per the Delta protocol both
        # sides of an OPTIMIZE carry dataChange=false, which is also what
        # lets read_delta_changes skip it as a no-op
        a["dataChange"] = False
        if cluster_cols:
            a["clusteringProvider"] = "liquid"
    now_ms = int(time.time() * 1000)
    removes = [
        {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": False}}
        for p in sorted(adds)
    ]
    def actions(version: int) -> list[dict]:
        # row tracking: fresh baseRowId ranges stamp per attempt from the
        # fresh high-water mark (a lost race re-reads it)
        rt_actions = _assign_row_ids(path, new_adds, version) if rt else []
        return [
            _commit_info("OPTIMIZE", part_cols),
            *rt_actions,
            *removes,
            *[{"add": a} for a in new_adds],
        ]

    # concurrent appends are compatible with OPTIMIZE (their files aren't in
    # our remove set); a concurrent remove of one of OUR inputs is not, and
    # neither is a concurrent merge-on-read delete changing an input's DV
    # (our rewritten copies would resurrect its freshly-deleted rows)
    _commit_checked(
        path,
        actions,
        set(adds),
        validate=_dv_unchanged_validator(adds, set(adds)),
    )


def _file_stats(file_path: str) -> dict:
    """File-level column stats from the parquet footer (min/max/nullCount
    for primitive leaf columns) — the Delta "stats" payload that enables
    data skipping.  The reference writes page-level parquet statistics for
    the same purpose (src/delta_destination.rs:61)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # nested/list columns: no file-level scalar stats
                continue
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't surface stats for every physical type
                # (e.g. some decimal encodings) — skip, stats are best-effort
                continue
            if isinstance(mn, bytes):
                continue
            if hasattr(mn, "isoformat"):
                mn, mx = _iso_utc_naive(mn), _iso_utc_naive(mx)
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
    return {"numRecords": md.num_rows, "minValues": mins, "maxValues": maxs, "nullCount": nulls}


def _iso_utc_naive(v) -> str:
    """isoformat with ONE temporal canonical form: tz-aware values (pyarrow
    footer stats for tz-annotated parquet timestamps) are normalized to
    UTC-naive before formatting, so they compare correctly as strings
    against PySpark's naive session-UTC datetimes — otherwise
    boundary-equal ranges would differ by a '+00:00' suffix and a genuine
    overlap could be missed."""
    if getattr(v, "tzinfo", None) is not None:
        import datetime as _dt

        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v.isoformat()


def _micros_iso(micros: int) -> str:
    """UTC microseconds since the epoch in the UTC-naive isoformat form
    ``_file_stats`` writes for timestamps."""
    import datetime as _dt

    return (_dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)).isoformat()


def _stats_may_overlap(add: dict, column: str, lo, hi) -> bool:
    """False only when ``add``'s stats prove no value of ``column`` lies in
    [lo, hi]; a file without stats for the column, or with stats that do
    not compare with the bounds, may hold one (conservative)."""
    stats = json.loads(add.get("stats", "{}") or "{}")
    mn = stats.get("minValues", {}).get(column)
    mx = stats.get("maxValues", {}).get(column)
    if mn is None or mx is None:
        return True
    try:
        return mx >= lo and mn <= hi
    except TypeError:
        return True


@accepts_file_uris
def prune_files_by_stats(
    path: str, column: str, lower, upper, adds: dict[str, dict] | None = None
) -> tuple[list[str], int]:
    """Data skipping: live files whose [min,max] range for ``column``
    intersects [lower, upper].  Returns (kept file paths, total live files).
    At cluster scale this stats scan reads only the transaction log — no
    data files are opened.  Pass ``adds`` to reuse an already-replayed log
    snapshot (avoids re-reading and keeps one consistent view under
    concurrent commits)."""
    if adds is None:
        _, _, adds = _read_log(path)
    kept = [
        os.path.join(path, p)
        for p, add in sorted(adds.items())
        if _stats_may_overlap(add, column, lower, upper)
    ]
    return kept, len(adds)


@accepts_file_uris
def read_delta_pruned(
    spark: SparkSession, path: str, column: str, lower, upper
) -> DataFrame:
    """Read only the files that can contain rows with ``column`` in
    [lower, upper] (caller still applies the exact row filter).  One log
    replay feeds schema, partitioning, and pruning — a single consistent
    snapshot even under concurrent commits."""
    _, meta, adds = _read_log(path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    files, _ = prune_files_by_stats(path, column, lower, upper, adds=adds)
    if not files:
        return local_frame(spark, [], schema)
    kept_rel = {os.path.relpath(f, path).replace(os.sep, "/") for f in files}
    return _scan_adds(
        spark, path, meta, schema, {p: adds[p] for p in kept_rel}
    )


# -- Compound-predicate scan planning (format twin of iceberg's) ------------


def _delta_literal(v, dtype: T.DataType):
    """Predicate literal → the comparison domain Delta stats live in:
    temporals are ISO strings (``_iso_utc_naive`` wrote them that way, and
    ISO ordering is chronological), everything else native.  Date-only
    strings against timestamp columns expand to midnight — the same value
    Spark's residual cast produces, so pruning and the exact filter agree
    ('1995-01-01' < '1995-01-01T00:00:00' lexically would otherwise prune
    a midnight-only file the filter matches)."""
    import datetime as _dt

    ts_like = isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
    if isinstance(dtype, T.DateType):
        # datetime IS a date subclass — test it first; a datetime literal
        # against a date column compares at date granularity (stats are
        # 'YYYY-MM-DD' strings)
        if isinstance(v, _dt.datetime):
            return v.date().isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, str):
            return v.replace(" ", "T").split("T")[0]
    elif ts_like:
        if isinstance(v, str):
            v = v.replace(" ", "T")
            if "T" not in v:
                v = v + "T00:00:00"
            return v
        if isinstance(v, _dt.datetime):
            return _iso_utc_naive(v)
        if isinstance(v, _dt.date):
            # date literal on a timestamp column = midnight, matching
            # Spark's residual cast — the string branch's expansion rule
            return v.isoformat() + "T00:00:00"
    return v


def _delta_partition_value(raw: str | None, dtype: T.DataType):
    """add.partitionValues string → the same comparison domain.  Hive dir
    names format timestamps with a SPACE ('2024-01-01 00:00:00'); the
    literal domain is 'T'-separated ISO, so normalize — comparing the raw
    form would wrongly exclude every matching file ('T' > ' ')."""
    if raw is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw == "true"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return raw.replace(" ", "T")
    return raw  # strings, dates and ISO temporals compare as-is


@accepts_file_uris
def plan_delta_scan(
    path: str, predicates: list[tuple], _snapshot: tuple | None = None
) -> dict:
    """Plan a scan under CNF predicates (AND of atoms / OR-groups, same
    grammar as ``iceberg.plan_iceberg_scan``) from the transaction log
    alone — partition columns prune exactly from ``partitionValues``
    (Delta partitions are identity only, so every op applies), everything
    else from the per-file min/max stats; a file survives unless some
    conjunct proves it empty (an OR-group only when EVERY disjunct does).
    Returns {"files", "total", "excluded_by_partition", "excluded_by_stats"}.

    ``_snapshot``: (meta, adds) from an already-replayed log — the read
    path passes it so plan, schema and file set come from ONE snapshot.
    """
    from lakehouse_loader_spark.sinks.scan_predicates import (
        atoms_of,
        bounds_exclude,
        file_verdict,
        normalize_preds,
        partition_excludes,
    )

    groups = normalize_preds(predicates)
    if _snapshot is None:
        _, meta, adds = _read_log(path)
    else:
        meta, adds = _snapshot
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    fields = {f.name: f.dataType for f in schema.fields}
    part_cols = set(meta.get("partitionColumns") or [])
    for p in atoms_of(groups):
        if p[0] not in fields:
            raise ValueError(f"{p[0]!r} is not a column of {path}")

    # per-atom literal normalization happens ONCE, not per file
    prepared = {
        p: (
            [_delta_literal(x, fields[p[0]]) for x in p[2]]
            if p[1] == "in"
            else tuple(_delta_literal(x, fields[p[0]]) for x in p[2:])
            if p[1] == "between"
            else _delta_literal(p[2], fields[p[0]])
        )
        for p in set(atoms_of(groups))
    }

    kept: list[str] = []
    n_part = n_stats = 0
    for rel, add in sorted(adds.items()):
        stats = json.loads(add.get("stats", "{}") or "{}")

        def atom_excludes(p: tuple) -> str | None:
            col, op = p[0], p[1]
            v = prepared[p]
            if col in part_cols and col in (add.get("partitionValues") or {}):
                part = _delta_partition_value(add["partitionValues"][col], fields[col])
                if partition_excludes(op, part, v):
                    return "partition"
            mn = stats.get("minValues", {}).get(col)
            mx = stats.get("maxValues", {}).get(col)
            if bounds_exclude(op, mn, mx, v):
                return "stats"
            return None

        verdict = file_verdict(groups, atom_excludes)
        if verdict == "partition":
            n_part += 1
        elif verdict == "stats":
            n_stats += 1
        else:
            kept.append(rel)
    return {
        "files": kept,
        "total": len(adds),
        "excluded_by_partition": n_part,
        "excluded_by_stats": n_stats,
    }


@accepts_file_uris
def scan_delta_with_plan(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    columns: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Execute a planned Delta scan and return (frame, plan): surviving
    files only, every predicate re-applied exactly as the residual filter,
    then projected.  ONE log replay feeds plan, schema and partitioning —
    a single consistent snapshot under concurrent commits."""
    from lakehouse_loader_spark.sinks.scan_predicates import (
        normalize_preds,
        residual_filter,
    )

    preds = normalize_preds(predicates)
    _, meta, adds = _read_log(path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    out_cols = columns or schema.fieldNames()
    for c in out_cols:
        if c not in schema.fieldNames():
            raise ValueError(f"{c!r} is not a column of {path}")
    plan = plan_delta_scan(path, preds, _snapshot=(meta, adds))
    if not plan["files"]:
        return local_frame(spark, [], schema).select(*out_cols), plan
    scan = _scan_adds(
        spark, path, meta, schema, {p: adds[p] for p in plan["files"]}
    )
    residual = residual_filter(preds)
    if residual is not None:
        scan = scan.filter(residual)
    return scan.select(*out_cols), plan


@accepts_file_uris
def read_delta_scan(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    columns: list[str] | None = None,
) -> DataFrame:
    """``scan_delta_with_plan`` without the plan — the plain read API."""
    df, _ = scan_delta_with_plan(spark, path, predicates, columns)
    return df


@accepts_file_uris
def restore_delta(spark: SparkSession, path: str, version: int) -> None:
    """RESTORE: make the table's CURRENT state equal its state at
    ``version``, as a NEW commit (history is never rewritten — the restore
    itself is time-travelable and undoable).  Files added since the target
    version are removed; files live at the target version but since
    removed are re-added.  Metadata-only: no data file is rewritten."""
    _check_protocol(path, for_write=True)
    _, meta_now, _ = _read_log(path)
    if _cdf_enabled(meta_now):
        # a restore's change set (rows resurrected/dropped by the file
        # swap) cannot be represented without reading data to build cdc
        # files — refuse loudly rather than emit a CDF-violating commit
        raise ValueError(
            "RESTORE on a change-data-feed-enabled table is not supported: "
            "disable delta.enableChangeDataFeed first"
        )
    _, meta_then, adds_then = _read_log(path, as_of_version=version)
    if _row_tracking_enabled(meta_now):
        # RESTORE within the row-tracked history is safe: the re-added add
        # actions carry their ORIGINAL baseRowId/defaultRowCommitVersion
        # (ids revert with the rows, which is what restore means), and the
        # high-water domain is never lowered, so later appends still mint
        # disjoint ranges.  Restoring PAST the enablement commit would
        # resurrect adds without baseRowId — refuse that boundary only.
        if not _row_tracking_enabled(meta_then):
            raise UnsupportedProtocolError(
                "RESTORE to a version before row tracking was enabled is "
                "not supported: the restored files carry no baseRowId "
                "ranges; restore to a row-tracked version instead"
            )
        no_range = sorted(
            p for p, a in adds_then.items() if a.get("baseRowId") is None
        )
        if no_range:
            raise UnsupportedProtocolError(
                f"cannot RESTORE: files without baseRowId at v{version} "
                f"(foreign writer?): {no_range[:3]}"
            )
    now_ms = int(time.time() * 1000)

    def actions() -> list[dict]:
        # Validate inside each commit attempt: a vacuum racing the restore
        # could delete a restored-from file after an earlier check passed,
        # so re-verify against the files THIS attempt is about to re-add.
        from lakehouse_loader_spark.sinks.dv import descriptor_dv_files

        missing = [
            p for p in adds_then if not os.path.exists(os.path.join(path, p))
        ] + [
            p
            for p in descriptor_dv_files(path, adds_then)
            if not os.path.exists(p)
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {path} to v{version}: data files vacuumed: {missing[:5]}"
            )
        _, _, adds_now = _read_log(path)
        # a path can be live in BOTH snapshots with a DIFFERENT add action
        # (a merge-on-read delete changed its deletion vector): restoring
        # must revert the action, not just the path set
        changed = sorted(
            p
            for p in set(adds_then) & set(adds_now)
            if adds_then[p] != adds_now[p]
        )
        removes = [
            {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
            for p in sorted(set(adds_now) - set(adds_then)) + changed
        ]
        re_adds = [
            {"add": adds_then[p]}
            for p in sorted(set(adds_then) - set(adds_now)) + changed
        ]
        info = _commit_info("RESTORE", meta_then.get("partitionColumns"))
        info["commitInfo"]["operation"] = "RESTORE"
        # operationParameters values are conventionally strings in Delta
        # commitInfo (the other params in this file are JSON-encoded too)
        info["commitInfo"]["operationParameters"]["version"] = str(version)
        return [info, *removes, *re_adds]

    for attempt in range(COMMIT_RETRIES):
        latest, _, _ = _read_log(path)
        try:
            _commit(path, latest + 1, actions())
            _maybe_checkpoint(path, latest + 1)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


@accepts_file_uris
def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one entry per committed version (newest first)
    with the recorded operation and parameters — read straight from the
    commitInfo actions in the log."""
    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    out = []
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(_log_dir(path)) if f.endswith(".json")
    )
    for v in versions:
        info = {}
        with open(_version_file(path, v)) as fh:
            for line in fh:
                action = json.loads(line)
                if "commitInfo" in action:
                    info = action["commitInfo"]
                    break
        out.append(
            {
                "version": v,
                "timestamp": info.get("timestamp"),
                "inCommitTimestamp": info.get("inCommitTimestamp"),
                "operation": info.get("operation"),
                "operationParameters": info.get("operationParameters", {}),
            }
        )
    return list(reversed(out))


@accepts_file_uris
def vacuum_delta(path: str, retain_versions: int = 0) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot
    (removed by overwrite-in-place or OPTIMIZE).  Time travel to versions
    that referenced them stops working — same contract as Delta VACUUM.
    ``retain_versions`` keeps files referenced by any of the last N
    versions too (the version-count analog of VACUUM's retention window:
    time travel within the window keeps working).  Returns the deleted
    relative paths."""
    if retain_versions < 0:
        raise ValueError("retain_versions must be >= 0")
    from lakehouse_loader_spark.sinks.dv import descriptor_dv_files

    _check_protocol(path, for_write=True)
    latest, _, adds = _read_log(path)
    live = set(adds)
    live_dv = {os.path.abspath(p) for p in descriptor_dv_files(path, adds)}
    # per-version replay is bounded, not O(history): _read_log seeds from
    # the newest checkpoint at/below the version, so each call parses at
    # most CHECKPOINT_INTERVAL json commits + one checkpoint parquet
    for v in range(max(0, latest - retain_versions), latest):
        _, _, old_adds = _read_log(path, as_of_version=v)
        live |= set(old_adds)
        live_dv |= {os.path.abspath(p) for p in descriptor_dv_files(path, old_adds)}
    # cdc files serve change-feed reads of their own commit: keep those of
    # versions inside the retention window, reap older/orphaned ones
    live_cdc: set[str] = set()
    for v in range(max(0, latest - retain_versions), latest + 1):
        vf = _version_file(path, v)
        if not os.path.exists(vf):
            continue
        with open(vf) as fh:
            for line in fh:
                if '"cdc"' not in line:
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    live_cdc.add(action["cdc"]["path"].replace(os.sep, "/"))
    deleted = []
    for root, _dirs, files in os.walk(path):
        if "_delta_log" in root or ".staging-" in root:
            continue
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path).replace(os.sep, "/")
            if name.startswith("deletion_vector_") and name.endswith(".bin"):
                # DV files are referenced by descriptor, not add-path
                if os.path.abspath(full) not in live_dv:
                    os.remove(full)
                    deleted.append(rel)
                continue
            if name.startswith(".deletion_vector_") and name.endswith(".tmp"):
                # orphaned DV staging file: a crash between write and
                # os.replace leaks these; they are never referenced (the
                # rename target is what descriptors point at), so any
                # survivor is garbage.  Age-gate by a minute so we never
                # race a concurrent writer mid-stage.
                if time.time() - os.path.getmtime(full) > 60:
                    os.remove(full)
                    deleted.append(rel)
                continue
            if not name.endswith(".parquet"):
                continue
            if rel.startswith("_change_data/"):
                if rel not in live_cdc:
                    os.remove(full)
                    deleted.append(rel)
                continue
            if rel not in live:
                os.remove(full)
                deleted.append(rel)
    return deleted


@accepts_file_uris
def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str | list[str],
    txn: tuple[str, int] | None = None,
    mode: str = "copy-on-write",
    delete_col: str | None = None,
) -> dict:
    """MERGE (upsert) by key — one column or a composite ``list[str]``
    (multi-column business keys are the common case; the Postgres merge
    primitive has always taken them, r13 verdict item 4).  File-level
    stats pruning and the concurrent-append conflict check range over the
    FIRST key column (conservative: a superset of candidates, never a
    miss); all matching joins use the full key tuple.  Composite keys
    refuse NULL in any key column — a NULL component makes the tuple
    unaddressable by the equality joins (the pgwire composite-key guard).

    Two passes over the table, as Delta's own MERGE does: candidates are
    pruned on the driver by each add's stats against the source keys'
    [min, max]; one probe query over the candidates (sinks/keys.py
    ``probe_matches``) returns the files holding a matching live row and
    the matched key counts; the second pass reads only those files.

    ``mode="copy-on-write"`` (default): files
    containing matched keys are rewritten with updated rows; unmatched
    source rows are appended.  One commit of remove+add actions; files
    without a matching live row are untouched, even when their stats
    range holds a source key.
    ``mode="merge-on-read"``: the matched rows are masked behind deletion
    vectors and the full source is appended — write cost ∝ source size,
    never ∝ the size of the candidate files; a later OPTIMIZE folds the
    DVs away.

    Returns {"rewritten_files": n, "updated": n, "inserted": n} for
    copy-on-write; {"updated", "inserted", "dv_files", "removed_files"}
    for merge-on-read.

    ``txn`` stamps the commit with a Delta transaction identifier
    (appId, version) — the idempotency handshake streaming upserts use
    (streaming/events.py:stream_upsert_to_delta).

    ``delete_col``: an optional boolean column marking TOMBSTONES — the
    CDC-apply shape (merge_postgres_wire's contract, brought to the
    lakehouse sinks): per key, a flagged row REMOVES the target's rows
    instead of replacing them; an unmatched tombstone no-ops.  NULL flags
    coalesce to false.  One commit applies upserts and deletes together,
    and the result dict gains ``"deleted"`` (matched tombstone keys).

    Row-tracking aware: on an enabled table each matched target row's
    STABLE id rides into its replacement row (materialized row-id column,
    NULL materialized commit version — readers resolve "last updated"
    through the new add's ``defaultRowCommitVersion``); carried-over rows
    in rewritten files keep both values physically; inserted rows fall
    through to the new adds' fresh ``baseRowId`` ranges.
    """
    from pyspark.sql import functions as F

    from lakehouse_loader_spark.sinks.keys import (
        align_merge_source_types,
        probe_matches,
        tombstone_flag,
        validate_merge_keys,
    )

    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"mode must be copy-on-write or merge-on-read, got {mode!r}")
    _check_protocol(path, for_write=True)
    _, meta, adds = _read_log(path)
    _forbid_if_append_only(meta, "MERGE")
    _forbid_if_column_mapped(meta, "MERGE")
    rt = _row_tracking_enabled(meta)
    schema = table_schema(path)
    if delete_col is not None and delete_col in schema.fieldNames():
        # a flag name shadowing a real column would silently treat data
        # as tombstone markers — refuse, never guess
        raise ValueError(
            f"delete_col {delete_col!r} collides with a table column; "
            "name the tombstone flag distinctly"
        )
    expected = set(schema.fieldNames()) | ({delete_col} if delete_col else set())
    if set(source.columns) != expected:
        raise ValueError(
            f"merge source columns {sorted(source.columns)} must match table "
            f"{sorted(expected)}"
        )
    # names alone would admit a RETYPED column — widen losslessly or
    # refuse before any write (sinks/keys.py: insert-only merges would
    # otherwise fail only when a reader hits the new file)
    source = align_merge_source_types(source, schema)
    # shared key contract and source measures (sinks/keys.py — one
    # aggregate pass: distinct count, duplicate and NULL refusal,
    # tombstone count, first key column's range).  A timestamp key's
    # range comes back as UTC micros, independent of the driver's zone
    first = key if isinstance(key, str) else next(iter(key), None)
    ts_key = first in schema.fieldNames() and isinstance(
        schema[first].dataType, T.TimestampType
    )
    mk = validate_merge_keys(source, key, delete_col, micros=ts_key)
    key_cols, n_source_keys = mk.cols, mk.n_keys
    key = key_cols[0]  # stats pruning / bounds column (see docstring)
    flag = tombstone_flag(delete_col)
    # source keys are proven unique: the key frames need no distinct.
    # Tombstone keys take part in the probe and the anti-join exactly like
    # upsert keys — a file holding only to-be-deleted rows is rewritten
    # (or DV-masked) too
    key_frame = source.select(*key_cols, flag.alias("__del"))
    keys = source.select(*key_cols)
    del_keys = source.filter(flag).select(*key_cols) if delete_col else None
    source = source.filter(~flag).select(*schema.fieldNames())
    _enforce_constraints(source, _write_rules(meta))

    # canonicalize the source range to the form _file_stats writes:
    # temporal stats are isoformat strings of UTC-naive values
    kb_mn, kb_mx = mk.lo, mk.hi
    if ts_key and kb_mn is not None:
        kb_mn, kb_mx = _micros_iso(kb_mn), _micros_iso(kb_mx)
    elif hasattr(kb_mn, "isoformat"):
        kb_mn, kb_mx = _iso_utc_naive(kb_mn), _iso_utc_naive(kb_mx)
    # pass 1, the probe: prune candidates on the driver by each add's
    # stats against the source's [min, max] (an empty source matches
    # nothing; an outlier key widens the probe, never the rewrite), then
    # one query over the candidates finds the files holding a matching
    # live row and the matched key counts
    cand_rel = (
        [r for r, a in sorted(adds.items()) if _stats_may_overlap(a, key, kb_mn, kb_mx)]
        if kb_mn is not None
        else []
    )
    # key-frame cardinality is already known (n_source_keys): broadcast the
    # probe/anti-join side only when it fits in an executor, mirroring the
    # Iceberg twin's DELETE_BROADCAST_MAX gate (iceberg.py) — an over-ceiling
    # batch upsert degrades to shuffled joins (AQE picks the strategy)
    # instead of forcing an executor-memory-sized broadcast
    _bcast = (
        F.broadcast if n_source_keys <= DV_BROADCAST_MAX else (lambda df: df)
    )
    matched_rel: list[str] = []
    n_updated = n_deleted = 0
    if cand_rel:
        # DV-aware: rows already deleted merge-on-read never match
        hit, n_updated, n_deleted = probe_matches(
            _scan_adds(
                spark, path, meta, schema, {r: adds[r] for r in cand_rel},
                with_path=True,
            ),
            _bcast(key_frame),
            key_cols,
        )
        abs_root = os.path.abspath(path) + os.sep
        matched_rel = sorted(p.split(abs_root, 1)[1] for p in hit)
    matched_adds = {r: adds[r] for r in matched_rel}
    if rt:
        mat_id, mat_rcv = _materialized_col_names(meta)
    if matched_rel:
        # pass 2 reads only the files with real matches; DV-aware, so
        # rows already deleted merge-on-read are not resurrected into the
        # rewrite; on a row-tracking table the scan resolves each row's
        # stable id so the rewrite can carry it
        scan_fn = _scan_adds_materialized if rt else _scan_adds
        cand_df = scan_fn(spark, path, meta, schema, matched_adds)
        kept = cand_df.join(_bcast(keys), key_cols, "left_anti")
        if rt:
            # each matched key inherits its target row's stable id (min id
            # when the key matched several rows — the survivors' ids retire
            # with their rows, same as a delete); unmatched source rows get
            # NULL and fall through to the fresh baseRowId range
            id_map = (
                cand_df.join(_bcast(keys), key_cols, "left_semi")
                .groupBy(*key_cols)
                .agg(F.min(mat_id).alias("__rt_mid"))
            )
            source_rt = source.join(_bcast(id_map), key_cols, "left").select(
                *schema.fieldNames(),
                F.col("__rt_mid").alias(mat_id),
                F.lit(None).cast("long").alias(mat_rcv),
            )
            rewritten = kept.unionByName(source_rt)
        else:
            rewritten = kept.unionByName(source)
    else:
        # no matched files: every source row is an insert; fresh appends
        # need no materialized columns (readers use baseRowId + position)
        rewritten = source
        if rt:
            source_rt = source
    n_inserted = n_source_keys - mk.n_tombstones - n_updated

    cdc_actions: list[dict] = []
    if _cdf_enabled(meta):
        # exact row-level changes: matched table rows are pre-images, the
        # matching source rows post-images, the rest of the source inserts
        ct = "_change_type"
        if matched_rel:
            # matched_keys <= n_source_keys rows, so the same gate applies
            matched_keys = source.select(*key_cols).join(
                cand_df.select(*key_cols), key_cols, "left_semi"
            )
            # change files carry logical columns only (no materialized ids)
            cdc_cand = cand_df.select(*schema.fieldNames())
            pre = cdc_cand.join(_bcast(matched_keys), key_cols, "left_semi").withColumn(
                ct, F.lit("update_preimage")
            )
            post = source.join(_bcast(matched_keys), key_cols, "left_semi").withColumn(
                ct, F.lit("update_postimage")
            )
            ins = source.join(_bcast(matched_keys), key_cols, "left_anti").withColumn(
                ct, F.lit("insert")
            )
            changes = pre.unionByName(post).unionByName(ins)
            if del_keys is not None:
                # matched tombstones: the removed target rows are the
                # change feed's delete images (unmatched tombstones no-op
                # and emit nothing)
                changes = changes.unionByName(
                    cdc_cand.join(_bcast(del_keys), key_cols, "left_semi").withColumn(
                        ct, F.lit("delete")
                    )
                )
        else:
            changes = source.withColumn(ct, F.lit("insert"))
        cdc_actions = _write_cdc(spark, path, meta, changes)

    part_cols = meta.get("partitionColumns") or None
    now_ms = int(time.time() * 1000)
    txn_actions = (
        [{"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": now_ms}}]
        if txn
        else []
    )
    snapshot_files = set(adds)
    new_rel: set[str] = set()  # filled once the new parts are staged

    _dv_validate = _dv_unchanged_validator(adds, set(matched_rel))

    def _validate(live: dict[str, dict]) -> None:
        # a concurrent merge-on-read delete changing a rewritten file's DV
        # would be undone by our pre-DV copies
        _dv_validate(live)
        # a file appended concurrently may contain rows whose key this MERGE
        # should have updated; if its stats range intersects the source key
        # range (or it has no stats — conservative), the snapshot is stale
        if kb_mn is None:
            return  # empty merge source: nothing could have matched
        for rel, add in live.items():
            if rel in snapshot_files or rel in new_rel:
                continue
            if _stats_may_overlap(add, key, kb_mn, kb_mx):
                raise ConcurrentModificationError(
                    f"concurrently appended file {rel} may contain merge keys; "
                    "re-run MERGE against the new snapshot"
                )

    if mode == "merge-on-read":
        # mask the matched rows behind DVs, append the FULL source (updated
        # copies + inserts) — write cost ∝ source size, never ∝ the size of
        # the candidate files
        if matched_rel:
            cand_scan = _scan_adds(
                spark, path, meta, schema, matched_adds, with_path=True
            )
            masked = cand_scan.join(_bcast(keys), key_cols, "left_semi").select(
                "__path", "__pos"
            )
        else:
            masked = local_frame(spark, [], "__path string, __pos bigint")
        new_adds = _write_parts(
            source_rt if rt else source, path, MAX_ROWS_PER_FILE, part_cols
        )
        new_rel |= {a["path"] for a in new_adds}
        try:
            res = _dv_mask_commit(
                spark,
                path,
                meta,
                adds,
                masked,
                "MERGE",
                new_adds=new_adds,
                validate=_validate,
                extra_actions=txn_actions + cdc_actions,
            )
        except (ConcurrentModificationError, FileExistsError):
            for a in new_adds:
                try:
                    os.remove(os.path.join(path, a["path"]))
                except OSError:
                    pass
            raise
        out = {
            "updated": n_updated,
            "inserted": int(n_inserted),
            "dv_files": res["dv_files"],
            "removed_files": res["removed_files"],
        }
        if delete_col is not None:
            out["deleted"] = n_deleted
        return out

    new_adds = _write_parts(rewritten, path, MAX_ROWS_PER_FILE, part_cols)
    new_rel |= {a["path"] for a in new_adds}
    removes = [
        {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
        for p in matched_rel
    ]

    def _cow_actions(version: int) -> list[dict]:
        # row tracking: fresh baseRowId ranges stamp per attempt from the
        # fresh high-water mark (a lost race re-reads it)
        rt_actions = _assign_row_ids(path, new_adds, version) if rt else []
        return [
            _commit_info("MERGE", part_cols),
            *rt_actions,
            *txn_actions,
            *removes,
            *[{"add": a} for a in new_adds],
            *cdc_actions,
        ]

    _commit_checked(path, _cow_actions, set(matched_rel), validate=_validate)
    out = {
        "rewritten_files": len(matched_rel),
        "updated": n_updated,
        "inserted": int(n_inserted),
    }
    if delete_col is not None:
        out["deleted"] = n_deleted
    return out


def _cdf_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get("delta.enableChangeDataFeed") == "true"


def enable_change_data_feed(path: str) -> None:
    """Enable Change Data Feed: from this commit on, every DML writes its
    exact row-level changes as ``_change_data`` files with cdc actions
    (the connector-compatible CDF form, including update pre/post
    images), and ``read_delta_changes`` prefers them over log-diff
    derivation."""
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        proto_actions = _protocol_upgrade_actions(
            path, writer_feature="changeDataFeed", legacy_writer=4
        )
        new_meta = dict(meta)
        new_meta["configuration"] = {
            **(meta.get("configuration") or {}),
            "delta.enableChangeDataFeed": "true",
        }
        actions = [
            _commit_info("EnableCDF"),
            *proto_actions,
            {"metaData": new_meta},
        ]
        try:
            _commit(path, latest + 1, actions)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def enable_v2_checkpoints(path: str) -> None:
    """Upgrade the table to demand the ``v2Checkpoint`` feature (reader
    and writer): subsequent checkpoints are written in the UUID-manifest +
    ``_sidecars/`` layout, interoperable with engines that default to v2.
    Existing classic checkpoints stay readable (log replay accepts
    both)."""
    for attempt in range(COMMIT_RETRIES):
        latest, _meta, _ = _read_log(path)
        proto_actions = _protocol_upgrade_actions(
            path,
            writer_feature="v2Checkpoint",
            reader_feature="v2Checkpoint",
            force_features=True,
        )
        if not proto_actions:
            return  # already demanded
        actions = [_commit_info("EnableV2Checkpoints"), *proto_actions]
        try:
            _commit(path, latest + 1, actions)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def _schema_of(meta: dict) -> T.StructType:
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def _commit_meta_change(path: str, op: str, derive) -> None:
    """Retry loop for metadata-only commits: ``derive(latest, meta)`` →
    new metaData dict (or None for no-op)."""
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        new_meta = derive(latest, meta)
        if new_meta is None:
            return
        try:
            _commit(path, latest + 1, [_commit_info(op), {"metaData": new_meta}])
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def _require_name_mapping(meta: dict, op: str) -> None:
    if _column_mapping_mode(meta) != "name":
        raise UnsupportedProtocolError(
            f"{op} needs delta.columnMapping.mode=name (run "
            "enable_column_mapping first): without mapping the parquet "
            "files are keyed by the logical column name"
        )


def _refuse_if_column_referenced(meta: dict, col: str, op: str) -> None:
    """CHECK constraints, invariants and generation expressions store SQL
    text referencing LOGICAL names — renaming/dropping a referenced column
    would silently break them, so refuse (drop the rule first)."""
    import re

    pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
    for name, expr in _write_rules(meta).items():
        if pat.search(expr):
            raise ValueError(
                f"{op} {col!r} refused: rule {name!r} references it "
                f"({expr!r}); drop the constraint first"
            )


@accepts_file_uris
def enable_column_mapping(path: str) -> None:
    """Upgrade the table to ``delta.columnMapping.mode=name``: every field
    gets a ``delta.columnMapping.id`` and a ``physicalName`` EQUAL to its
    current name (existing parquet files already carry those names, so
    they stay resolvable — the standard upgrade semantics), the protocol
    gains the columnMapping reader+writer features, and
    ``rename_column`` / ``drop_column`` / ``add_column`` become
    metadata-only operations.  Appends keep working (logical→physical
    translation); DML rewrites stay refused on mapped tables.

    Refused on partitioned tables (partitionValues are keyed by physical
    name in the log), nested-struct schemas (nested mapping untested in
    the read path), and identity-column tables (watermark recovery reads
    stats by logical name)."""
    _check_protocol(path, for_write=True)

    def derive(latest, meta):
        if _row_tracking_enabled(meta):
            raise UnsupportedProtocolError(
                "column mapping on a row-tracking table is not supported "
                "(the materialized id columns would need physical-name "
                "plumbing)"
            )
        mode = _column_mapping_mode(meta)
        if mode == "name":
            return None  # already enabled
        if mode != "none":
            raise UnsupportedProtocolError(
                f"cannot convert from delta.columnMapping.mode={mode!r}"
            )
        if meta.get("partitionColumns"):
            raise UnsupportedProtocolError(
                "column mapping on a partitioned table is not supported: "
                "partitionValues are keyed by physical name in the log"
            )
        if _identity_cols(meta):
            raise UnsupportedProtocolError(
                "column mapping with identity columns is not supported: "
                "watermark recovery reads file stats by logical name"
            )
        schema = _schema_of(meta)
        fields = []
        for i, f in enumerate(schema.fields, start=1):
            if "struct" in json.dumps(f.dataType.jsonValue()):
                raise UnsupportedProtocolError(
                    f"column mapping over nested struct field {f.name!r} "
                    "is not supported (nested ids unimplemented)"
                )
            md = dict(f.metadata or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = f.name
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(T.StructType(fields).jsonValue())
        conf = dict(meta.get("configuration") or {})
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(len(fields))
        new_meta["configuration"] = conf
        return new_meta

    # protocol upgrade must ride the SAME commit as the metadata flip:
    # a reader seeing mode=name without the reader feature gate could be
    # an old engine resolving logical names against physical files
    for attempt in range(COMMIT_RETRIES):
        latest, meta, _ = _read_log(path)
        new_meta = derive(latest, meta)
        if new_meta is None:
            return
        proto_actions = _protocol_upgrade_actions(
            path,
            reader_feature="columnMapping",
            writer_feature="columnMapping",
            force_features=True,
        )
        actions = [
            _commit_info("UpgradeColumnMapping"),
            *proto_actions,
            {"metaData": new_meta},
        ]
        try:
            _commit(path, latest + 1, actions)
            return
        except FileExistsError:
            if attempt == COMMIT_RETRIES - 1:
                raise


@accepts_file_uris
def rename_column(path: str, old: str, new: str) -> None:
    """ALTER TABLE ... RENAME COLUMN: metadata-only under name mapping —
    the field keeps its id and physicalName, so every existing parquet
    file resolves unchanged and no data is rewritten."""
    _check_protocol(path, for_write=True)

    def derive(latest, meta):
        _require_name_mapping(meta, "RENAME COLUMN")
        schema = _schema_of(meta)
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        _refuse_if_column_referenced(meta, old, "RENAME COLUMN")
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType,
                          f.nullable, f.metadata)
            for f in schema.fields
        ]
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(T.StructType(fields).jsonValue())
        return new_meta

    _commit_meta_change(path, "RENAME COLUMN", derive)


@accepts_file_uris
def drop_column(path: str, name: str) -> None:
    """ALTER TABLE ... DROP COLUMN: metadata-only under name mapping —
    files keep the physical column, readers prune it.  A later
    ``add_column`` with the SAME logical name gets a FRESH physical name,
    so dropped values can never resurrect."""
    _check_protocol(path, for_write=True)

    def derive(latest, meta):
        _require_name_mapping(meta, "DROP COLUMN")
        schema = _schema_of(meta)
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        _refuse_if_column_referenced(meta, name, "DROP COLUMN")
        fields = [f for f in schema.fields if f.name != name]
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(T.StructType(fields).jsonValue())
        return new_meta

    _commit_meta_change(path, "DROP COLUMN", derive)


@accepts_file_uris
def add_column(path: str, name: str, dtype: T.DataType | str) -> None:
    """ALTER TABLE ... ADD COLUMN (nullable).  Under name mapping the new
    field gets id = maxColumnId+1 and a UUID physical name; on an unmapped
    table it is a plain schema extension (the same state a mergeSchema
    append creates).  Pre-existing files null-fill the column on read
    either way.  ``dtype`` is a DataType or one of the atomic type names
    ('long', 'string', 'double', ...)."""
    _check_protocol(path, for_write=True)
    if isinstance(dtype, str):
        atomic = {
            "byte": T.ByteType(), "short": T.ShortType(), "int": T.IntegerType(),
            "integer": T.IntegerType(), "long": T.LongType(), "bigint": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "string": T.StringType(), "boolean": T.BooleanType(),
            "date": T.DateType(), "timestamp": T.TimestampType(),
            "binary": T.BinaryType(),
        }
        if dtype not in atomic:
            raise ValueError(f"unknown type {dtype!r} (have {sorted(atomic)})")
        dtype = atomic[dtype]

    def derive(latest, meta):
        schema = _schema_of(meta)
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        new_meta = dict(meta)
        mode = _column_mapping_mode(meta)
        if mode == "name":
            conf = dict(meta.get("configuration") or {})
            max_id = int(conf.get("delta.columnMapping.maxColumnId", len(schema.fields)))
            md = {
                "delta.columnMapping.id": max_id + 1,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex[:16]}",
            }
            fields = [*schema.fields, T.StructField(name, dtype, True, md)]
            conf["delta.columnMapping.maxColumnId"] = str(max_id + 1)
            new_meta["configuration"] = conf
        elif mode == "none":
            fields = [*schema.fields, T.StructField(name, dtype, True)]
        else:
            _require_name_mapping(meta, "ADD COLUMN")  # id-mapping: refuse
        new_meta["schemaString"] = json.dumps(T.StructType(fields).jsonValue())
        return new_meta

    _commit_meta_change(path, "ADD COLUMN", derive)


def _write_cdc(
    spark: SparkSession, path: str, meta: dict, changes: DataFrame
) -> list[dict]:
    """Persist change rows (table columns + ``_change_type``) under
    ``_change_data/`` and return their cdc actions.  On a partitioned
    table the cdc files are hive-partitioned like the data files, and each
    action carries its partitionValues — the layout connector CDF readers
    expect.  cdc files are dataChange=false metadata companions: VACUUM
    and conflict detection ignore them."""
    part_cols = meta.get("partitionColumns") or []
    sub = os.path.join("_change_data", f"cdc-{uuid.uuid4().hex}")
    target = os.path.join(path, sub)
    writer = changes.coalesce(max(1, changes.sparkSession.sparkContext.defaultParallelism // 8)).write
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(target)
    actions: list[dict] = []
    for dirpath, _dirs, files in os.walk(target):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, path)
            pv = {}
            for seg in os.path.relpath(dirpath, target).split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    # Spark percent-escapes special characters (':'→'%3A')
                    # in hive dir names; partitionValues must store the
                    # TRUE values (mirrors promote_staged_files for adds)
                    pv[unquote(k)] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": os.path.getsize(full),
                        "dataChange": False,
                    }
                }
            )
    return actions


def _cow_probe_and_commit(
    spark: SparkSession,
    path: str,
    predicate: str,
    op: str,
    rewrite_fn,
    cdc_fn=None,
):
    """Shared copy-on-write skeleton for DELETE and UPDATE: one predicate-
    pushed probe scan finds the files that actually contain matching rows
    (only the file LIST — metadata, not data — returns to the driver);
    ``rewrite_fn(rows_df, pred, schema)`` produces those files' replacement
    rows; one remove+add commit lands with WriteSerializable conflict
    detection (_commit_checked: rewritten files must still be live).

    Returns (n_matched, n_rewritten_files, n_total_files); n_rewritten = 0
    means nothing matched and NO commit was made.

    Deletion-vector aware on both sides: the probe and the rewrite scans
    apply each file's DV (already-deleted rows can neither match the
    predicate nor be resurrected by the rewrite), and the commit validates
    that no concurrent merge-on-read delete changed a rewritten file's DV
    under us (_dv_unchanged_validator).

    Row-tracking aware (Delta PROTOCOL.md "Row Tracking"): on an enabled
    table the rewrite scan resolves each row's STABLE id/commit version
    (materialized-or-computed coalesce) and the replacement files carry
    them under the reserved materialized column names.  Rows the predicate
    MATCHED get a NULL materialized commit version — readers resolve that
    through the new add's ``defaultRowCommitVersion``, i.e. THIS commit,
    which is exactly "last updated"; carried-over rows keep both values
    physically.  Fresh baseRowId ranges still stamp the new adds inside
    the commit retry loop (readers prefer the materialized values)."""
    from pyspark.sql import functions as F

    _check_protocol(path, for_write=True)
    _, meta, adds = _read_log(path)
    _forbid_if_append_only(meta, op)
    _forbid_if_column_mapped(meta, op)
    rt = _row_tracking_enabled(meta)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not adds:
        return 0, 0, 0, meta
    pred = F.expr(predicate)
    df = _scan_adds(spark, path, meta, schema, adds, with_path=True)
    probe = (
        df.filter(pred).groupBy("__path").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    abs_root = os.path.abspath(path) + os.sep
    # __path is the decoded on-disk path (_decode_scan_path), so stripping
    # the absolute table root yields exactly the add-action relative paths
    affected_rel = sorted(r["__path"].split(abs_root, 1)[1] for r in probe)
    n_matched = sum(r["n"] for r in probe)
    if not affected_rel:
        return 0, 0, len(adds), meta

    affected = {p: adds[p] for p in affected_rel}
    if rt:
        _, mat_rcv = _materialized_col_names(meta)
        rows = _scan_adds_materialized(spark, path, meta, schema, affected)
        # matched rows are about to change: their materialized commit
        # version goes NULL so readers fall through to this commit's
        # defaultRowCommitVersion (DELETE drops them anyway — harmless)
        rows = rows.withColumn(
            mat_rcv,
            F.when(
                F.coalesce(pred, F.lit(False)), F.lit(None).cast("long")
            ).otherwise(F.col(mat_rcv)),
        )
    else:
        rows = _scan_adds(spark, path, meta, schema, affected)
    replacement = rewrite_fn(rows, pred, schema)
    if op == "UPDATE":
        # a SET can break a CHECK constraint; enforcement covers the whole
        # rewrite set (kept rows satisfied it already, so any hit is real)
        _enforce_constraints(replacement, _write_rules(meta))
    part_cols = meta.get("partitionColumns") or None
    new_adds = _write_parts(replacement, path, MAX_ROWS_PER_FILE, part_cols)
    cdc_actions: list[dict] = []
    if cdc_fn is not None and _cdf_enabled(meta):
        # change files carry logical columns only, never the physical
        # materialized id columns
        cdc_rows = rows.select(*schema.fieldNames()) if rt else rows
        cdc_actions = _write_cdc(spark, path, meta, cdc_fn(cdc_rows, pred, schema))
    now_ms = int(time.time() * 1000)

    def actions(version: int) -> list[dict]:
        # row tracking: fresh baseRowId ranges stamp per attempt from the
        # fresh high-water mark (a lost race re-reads it)
        rt_actions = _assign_row_ids(path, new_adds, version) if rt else []
        return [
            _commit_info(op, part_cols),
            *rt_actions,
            *[
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for p in affected_rel
            ],
            *[{"add": a} for a in new_adds],
            *cdc_actions,
        ]

    _commit_checked(
        path,
        actions,
        set(affected_rel),
        validate=_dv_unchanged_validator(adds, set(affected_rel)),
    )
    return int(n_matched), len(affected_rel), len(adds), meta


@accepts_file_uris
def delete_from_delta(
    spark: SparkSession, path: str, predicate: str, mode: str = "copy-on-write"
) -> dict:
    """Row-level DELETE: rewrite ONLY the files that actually contain rows
    matching ``predicate`` (a SQL expression) and commit one new version —
    the GDPR/right-to-be-forgotten primitive a lakehouse needs.

    ``mode="copy-on-write"`` (default) drops the rows by rewriting the
    affected files (_cow_probe_and_commit has the probe/commit shape): a
    point delete on a 100 TB table rewrites megabytes, not the table.
    ``mode="merge-on-read"`` writes DELETION VECTORS instead — the affected
    files are re-added unchanged with a roaring-bitmap DV of their deleted
    row positions (sinks/dv.py), so the delete writes KILOBYTES of bitmap
    no matter how large the affected files are; readers apply the DV as a
    broadcast anti-join and a later OPTIMIZE purges it.  The first DV
    upgrades the table protocol to reader 3 / writer 7 with the
    deletionVectors table feature, in the same commit.

    SQL DELETE semantics: rows where the predicate is TRUE are removed;
    rows where it is false or NULL are kept.  Concurrency follows
    WriteSerializable: files this delete touches must still be live with
    an unchanged DV at commit time (ConcurrentModificationError
    otherwise); concurrently APPENDED files are untouched — the delete
    applies to the snapshot it read, new data is not retroactively
    covered.

    Returns {"deleted_rows", "rewritten_files", "kept_files"} for
    copy-on-write; {"deleted_rows", "dv_files", "removed_files"} for
    merge-on-read (removed_files counts files whose every row died — those
    drop out of the table entirely instead of carrying a full-file DV).
    """
    from pyspark.sql import functions as F

    if mode == "merge-on-read":
        return _delete_mor(spark, path, predicate)
    if mode != "copy-on-write":
        raise ValueError(f"mode must be copy-on-write or merge-on-read, got {mode!r}")

    def drop_matches(rows, pred, _schema):
        return rows.filter(F.coalesce(pred, F.lit(False)) == F.lit(False))

    def deleted_rows_cdc(rows, pred, _schema):
        return rows.filter(F.coalesce(pred, F.lit(False))).withColumn(
            "_change_type", F.lit("delete")
        )

    n, rewritten, total, _ = _cow_probe_and_commit(
        spark, path, predicate, "DELETE", drop_matches, cdc_fn=deleted_rows_cdc
    )
    return {
        "deleted_rows": n,
        "rewritten_files": rewritten,
        "kept_files": total - rewritten,
    }


# serialized DVs at or below this size ride inline in the add action
# ("i" storage) instead of a .bin file — one less file per point delete
DV_INLINE_MAX = 512


def _dv_mask_commit(
    spark: SparkSession,
    path: str,
    meta: dict,
    adds: dict[str, dict],
    masked,
    op: str,
    new_adds: list[dict] | None = None,
    validate=None,
    extra_actions: list[dict] | None = None,
) -> dict:
    """Shared merge-on-read commit skeleton: mask the rows in ``masked``
    (a DataFrame[__path, __pos]) behind deletion vectors and commit, plus
    any ``new_adds`` (the appended replacement/insert files for UPDATE and
    MERGE).  One JVM aggregate (``dv.collect_positions``) brings each
    affected file's positions to the driver per 32,768-position bucket, a
    list or a 4 KB bitset, so driver memory is ~4 KB per touched bucket,
    not per row, and no Python worker runs.  The driver unions them with
    any existing DV, serializes, packs the bitmaps into one DV file (or
    inline descriptors under DV_INLINE_MAX), and commits remove+re-add
    actions.  Files whose every physical row dies are dropped outright
    instead of carrying a full-file DV.  Returns {"masked_rows", "dv_files", "removed_files"};
    masked_rows == 0 means NO commit was made (unless new_adds exist,
    which still commit)."""
    import numpy as np

    from lakehouse_loader_spark.sinks import dv as dvmod

    masked_pos = dvmod.collect_positions(masked, "__path", "__pos")
    new_adds = new_adds or []
    if not masked_pos and not new_adds:
        return {"masked_rows": 0, "dv_files": 0, "removed_files": 0}

    abs_root = os.path.abspath(path) + os.sep
    per_file: dict[str, tuple[bytes, int]] = {}  # rel -> (merged blob, card)
    removed_fully: list[str] = []
    n_masked = 0
    for abs_path, new_pos in masked_pos.items():
        rel = abs_path.split(abs_root, 1)[1]
        n_masked += len(new_pos)
        old_desc = adds[rel].get("deletionVector")
        if old_desc:
            merged = np.union1d(dvmod.load_descriptor(path, old_desc), new_pos)
        else:
            merged = new_pos
        blob = dvmod.serialize_positions(merged)
        stats = json.loads(adds[rel].get("stats", "{}") or "{}")
        nrec = stats.get("numRecords")
        if nrec is not None and len(merged) >= nrec:
            # every physical row is dead: drop the file outright instead of
            # carrying a full-file DV (same call delta-spark makes)
            removed_fully.append(rel)
        else:
            per_file[rel] = (blob, len(merged))

    descs: dict[str, dict] = {}
    packed_rel: str | None = None
    to_pack = [
        (rel, blob, card)
        for rel, (blob, card) in sorted(per_file.items())
        if len(blob) > DV_INLINE_MAX
    ]
    for rel, (blob, card) in per_file.items():
        if len(blob) <= DV_INLINE_MAX:
            descs[rel] = dvmod.make_descriptor(blob, cardinality=card)
    if to_pack:
        packed_rel, spans = dvmod.write_dv_file(path, [b for _, b, _ in to_pack])
        for (rel, _b, card), (off, size) in zip(to_pack, spans):
            descs[rel] = dvmod.make_descriptor(packed_rel, off, size, card)

    part_cols = meta.get("partitionColumns") or None
    affected = sorted(per_file) + sorted(removed_fully)
    now_ms = int(time.time() * 1000)

    def actions(version: int) -> list[dict]:
        proto = _dv_protocol_actions(path) if descs else []
        info = _commit_info(op, part_cols)
        info["commitInfo"]["operationParameters"]["mode"] = "merge-on-read"
        # row tracking: the appended files (UPDATE's rewritten copies)
        # still need fresh baseRowId ranges + defaultRowCommitVersion —
        # their rows' STABLE ids ride in the materialized columns, but the
        # spec requires every add to carry the fields, and unmaterialized
        # values (null mat_rcv) resolve through defaultRowCommitVersion
        rt_actions = (
            _assign_row_ids(path, new_adds, version)
            if new_adds and _row_tracking_enabled(meta)
            else []
        )
        return [
            *proto,
            info,
            *rt_actions,
            *(extra_actions or []),
            *[
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for p in affected
            ],
            *[
                {
                    "add": {
                        **adds[rel],
                        "deletionVector": descs[rel],
                        "dataChange": True,
                        "modificationTime": now_ms,
                    }
                }
                for rel in sorted(per_file)
            ],
            *[{"add": a} for a in new_adds],
        ]

    dv_validate = _dv_unchanged_validator(adds, set(affected))

    def _validate(live: dict[str, dict]) -> None:
        dv_validate(live)
        if validate is not None:
            validate(live)

    try:
        _commit_checked(path, actions, set(affected), validate=_validate)
    except (ConcurrentModificationError, FileExistsError):
        # lost the race: reclaim the DV file this attempt staged (same
        # loud-fail hygiene as the COW and Iceberg lost-commit handlers)
        if packed_rel is not None:
            try:
                os.remove(os.path.join(path, packed_rel))
            except OSError:
                pass
        raise
    return {
        "masked_rows": int(n_masked),
        "dv_files": len(per_file),
        "removed_files": len(removed_fully),
    }


def _delete_mor(spark: SparkSession, path: str, predicate: str) -> dict:
    """Merge-on-read DELETE via deletion vectors (_dv_mask_commit has the
    bitmap/commit machinery)."""
    from pyspark.sql import functions as F

    _check_protocol(path, for_write=True)
    _, meta, adds = _read_log(path)
    _forbid_if_append_only(meta, "DELETE")
    _forbid_if_column_mapped(meta, "DELETE")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not adds:
        return {"deleted_rows": 0, "dv_files": 0, "removed_files": 0}
    scan = _scan_adds(spark, path, meta, schema, adds, with_path=True)
    pred = F.expr(predicate)
    hit = scan.filter(F.coalesce(pred, F.lit(False)))
    masked = hit.select("__path", "__pos")
    cdc_actions: list[dict] = []
    if _cdf_enabled(meta):
        cdc_actions = _write_cdc(
            spark, path, meta,
            hit.drop("__path", "__pos").withColumn("_change_type", F.lit("delete")),
        )
    res = _dv_mask_commit(
        spark, path, meta, adds, masked, "DELETE", extra_actions=cdc_actions
    )
    return {
        "deleted_rows": res["masked_rows"],
        "dv_files": res["dv_files"],
        "removed_files": res["removed_files"],
    }


@accepts_file_uris
def update_delta(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    mode: str = "copy-on-write",
) -> dict:
    """Row-level UPDATE: apply ``set_exprs`` (column -> SQL expression over
    the row) to the rows matching ``predicate``.  Completes the DML
    triangle next to MERGE (keyed upsert) and DELETE.

    ``mode="copy-on-write"`` (default) rewrites only the files containing
    matches, carrying the rest of each rewritten file unchanged
    (_cow_probe_and_commit has the probe/commit shape).
    ``mode="merge-on-read"`` masks the matched rows behind deletion
    vectors and APPENDS their updated copies as new files — the write cost
    is ∝ matched rows (plus kilobytes of bitmap), never ∝ the size of the
    files they happen to live in; a later OPTIMIZE folds the DVs away.
    The predicate must be deterministic (same contract as Delta UPDATE):
    the mask and the appended copies come from two scans of the same
    immutable snapshot.

    Updated columns must already exist (no implicit schema evolution), and
    partition columns cannot be SET (their values are directory-encoded) —
    both validated from metadata BEFORE any data is scanned.

    Returns {"updated_rows": n, "rewritten_files": n, "kept_files": n} for
    copy-on-write; {"updated_rows", "dv_files", "removed_files",
    "new_files"} for merge-on-read.
    """
    from pyspark.sql import functions as F

    _, meta, adds = _read_log(path)
    # both modes preserve row-tracking ids: merge-on-read materializes the
    # stable id into the appended copies, copy-on-write into the rewritten
    # files (_cow_probe_and_commit)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    unknown = set(set_exprs) - set(schema.fieldNames())
    if unknown:
        raise ValueError(f"SET columns not in table schema: {sorted(unknown)}")
    id_hit = set(set_exprs) & set(_identity_cols(meta))
    if id_hit:
        raise ValueError(
            f"cannot UPDATE identity columns {sorted(id_hit)}: the protocol "
            "forbids changing assigned identity values"
        )
    part_cols = meta.get("partitionColumns") or []
    if set(set_exprs) & set(part_cols):
        raise ValueError(
            f"cannot UPDATE partition columns {sorted(set(set_exprs) & set(part_cols))}; "
            "rewrite via MERGE (partition values are directory-encoded)"
        )

    if mode == "merge-on-read":
        return _update_mor(spark, path, predicate, set_exprs, meta, adds, schema)
    if mode != "copy-on-write":
        raise ValueError(f"mode must be copy-on-write or merge-on-read, got {mode!r}")

    def apply_set(rows, pred, schema):
        hit = F.coalesce(pred, F.lit(False))
        return rows.withColumns(
            {
                col: F.when(hit, F.expr(expr).cast(schema[col].dataType)).otherwise(
                    F.col(col)
                )
                for col, expr in set_exprs.items()
            }
        )

    def update_images_cdc(rows, pred, schema):
        hit = rows.filter(F.coalesce(pred, F.lit(False)))
        pre = hit.withColumn("_change_type", F.lit("update_preimage"))
        post = hit.withColumns(
            {
                col: F.expr(expr).cast(schema[col].dataType)
                for col, expr in set_exprs.items()
            }
        ).withColumn("_change_type", F.lit("update_postimage"))
        return pre.unionByName(post)

    n, rewritten, total, _ = _cow_probe_and_commit(
        spark, path, predicate, "UPDATE", apply_set, cdc_fn=update_images_cdc
    )
    return {
        "updated_rows": n,
        "rewritten_files": rewritten,
        "kept_files": total - rewritten,
    }


def _update_mor(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    meta: dict,
    adds: dict[str, dict],
    schema: T.StructType,
) -> dict:
    """Merge-on-read UPDATE: DV the matched rows, append updated copies.

    Row-tracking aware: on an enabled table the updated copies carry each
    row's STABLE id in the materialized row-id column (spec: UPDATE keeps
    the row id) with a NULL materialized commit version — readers resolve
    that through the new add's ``defaultRowCommitVersion``, i.e. THIS
    update's commit, which is exactly "last updated"."""
    from pyspark.sql import functions as F

    _check_protocol(path, for_write=True)
    _forbid_if_append_only(meta, "UPDATE")
    _forbid_if_column_mapped(meta, "UPDATE")
    empty = {"updated_rows": 0, "dv_files": 0, "removed_files": 0, "new_files": 0}
    if not adds:
        return empty
    part_cols = meta.get("partitionColumns") or None
    rt = _row_tracking_enabled(meta)
    if rt:
        mat_id, mat_rcv = _materialized_col_names(meta)
        scan = _scan_adds_materialized(spark, path, meta, schema, adds, with_path=True)
    else:
        scan = _scan_adds(spark, path, meta, schema, adds, with_path=True)
    matched = scan.filter(F.coalesce(F.expr(predicate), F.lit(False)))
    mat_cols = (
        [F.col(mat_id), F.lit(None).cast("long").alias(mat_rcv)] if rt else []
    )
    updated = matched.withColumns(
        {
            col: F.expr(expr).cast(schema[col].dataType)
            for col, expr in set_exprs.items()
        }
    ).select(*schema.fieldNames(), *mat_cols)
    _enforce_constraints(updated, _write_rules(meta))
    new_adds = _write_parts(updated, path, MAX_ROWS_PER_FILE, part_cols)
    n_new = sum(
        json.loads(a.get("stats", "{}") or "{}").get("numRecords", 0)
        for a in new_adds
    )
    if n_new == 0:
        # nothing matched: reclaim the (empty) staged parts, commit nothing
        for a in new_adds:
            try:
                os.remove(os.path.join(path, a["path"]))
            except OSError:
                pass
        return empty
    cdc_actions: list[dict] = []
    if _cdf_enabled(meta):
        pre = matched.drop("__path", "__pos").select(*schema.fieldNames()).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = updated.select(*schema.fieldNames()).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        cdc_actions = _write_cdc(spark, path, meta, pre.unionByName(post))
    try:
        res = _dv_mask_commit(
            spark,
            path,
            meta,
            adds,
            matched.select("__path", "__pos"),
            "UPDATE",
            new_adds=new_adds,
            extra_actions=cdc_actions,
        )
    except (ConcurrentModificationError, FileExistsError):
        for a in new_adds:
            try:
                os.remove(os.path.join(path, a["path"]))
            except OSError:
                pass
        raise
    return {
        "updated_rows": res["masked_rows"],
        "dv_files": res["dv_files"],
        "removed_files": res["removed_files"],
        "new_files": len(new_adds),
    }


def convert_iceberg_to_delta(iceberg_path: str, delta_path: str) -> dict:
    """Metadata-only Iceberg→Delta migration — the exact reverse of
    ``iceberg.convert_delta_to_iceberg``: a fresh Delta table whose log
    references the Iceberg table's CURRENT live parquet files in place
    (absolute add paths, which the Delta protocol permits) — zero data
    movement, so table size is irrelevant to conversion cost.

    Same caveats as the forward direction: unpartitioned sources only
    (Iceberg hive-dirs would need partitionValues re-derivation), the
    source must outlive the converted table (``expire_snapshots`` on the
    Iceberg side would pull files out from under it), and tables carrying
    merge-on-read position deletes must be compacted first
    (``optimize_iceberg``) — a Delta add cannot express row-level delete
    files.

    Returns {"files": n, "rows": n}.
    """
    import pyarrow.parquet as pq

    from lakehouse_loader_spark.sinks import iceberg as IC
    from lakehouse_loader_spark.sinks.staging import local_path

    iceberg_path = local_path(iceberg_path)
    delta_path = local_path(delta_path)
    if not IC.table_exists(iceberg_path):
        raise FileNotFoundError(f"no iceberg table at {iceberg_path}")
    if table_exists(delta_path):
        raise TargetExistsError(f"delta table already exists at {delta_path}")
    _, meta_ice = IC._read_metadata(iceberg_path)
    schema = IC.iceberg_to_schema(meta_ice["schemas"][meta_ice["current-schema-id"]])
    spec_cols = IC._default_spec_cols(meta_ice)
    if spec_cols:
        raise ValueError(
            "convert_iceberg_to_delta supports unpartitioned sources only "
            f"(table is partitioned by {spec_cols})"
        )
    data_entries, delete_entries, _ = IC._split_live_entries(iceberg_path, meta_ice)
    if delete_entries:
        raise ValueError(
            f"{iceberg_path} carries {len(delete_entries)} merge-on-read "
            "position-delete files; run optimize_iceberg to compact them "
            "before converting"
        )

    now_ms = int(time.time() * 1000)
    adds, total_rows = [], 0
    for d in sorted(data_entries, key=lambda d: d["file_path"]):
        full = IC._abs_file(iceberg_path, d["file_path"])
        n_rows = pq.ParquetFile(full).metadata.num_rows
        total_rows += n_rows
        adds.append(
            {
                "path": full,  # absolute: points into the Iceberg data dir
                "partitionValues": {},
                "size": d["file_size_in_bytes"],
                "modificationTime": now_ms,
                "dataChange": True,
                "stats": json.dumps(_file_stats(full)),
            }
        )

    _commit(
        delta_path,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 1}},
            _metadata_action(schema, None),
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CONVERT",
                    "operationParameters": {
                        "sourceFormat": "iceberg",
                        "sourcePath": os.path.abspath(iceberg_path),
                    },
                }
            },
        ],
    )
    _commit(
        delta_path,
        1,
        [_commit_info("Append", None), *[{"add": a} for a in adds]],
    )
    return {"files": len(adds), "rows": total_rows}


@accepts_file_uris
def read_delta_meta(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Metadata inspection tables for the Delta sink — ``files`` (live adds
    with size/stats presence) and ``history`` (per-version commitInfo),
    the engine-side mirror of DESCRIBE DETAIL/HISTORY as DataFrames.
    Pure log replay; nothing data-sized."""
    if not table_exists(path):
        raise FileNotFoundError(f"no delta table at {path}")
    if table == "files":
        _, _, adds = _read_log(path)
        rows = [
            (
                p,
                int(a.get("size", 0)),
                json.loads(a.get("stats", "{}") or "{}").get("numRecords"),
                bool(a.get("stats")),
                int((a.get("deletionVector") or {}).get("cardinality", 0)),
            )
            for p, a in sorted(adds.items())
        ]
        return local_frame(
            spark,
            rows,
            "file_path string, size bigint, num_records bigint, "
            "has_stats boolean, dv_cardinality bigint",
        )
    if table == "history":
        rows = [
            (
                h["version"],
                h.get("timestamp"),
                h.get("operation"),
                json.dumps(h.get("operationParameters", {})),
            )
            for h in table_history(path)
        ]
        return local_frame(
            spark,
            rows,
            "version int, timestamp long, operation string, operation_parameters string",
        )
    raise ValueError(f"unknown metadata table {table!r} (have files/history)")
