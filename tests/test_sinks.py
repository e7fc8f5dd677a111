"""Sink tests mirroring the reference's e2e assertions
(tests/basic_integration.rs): Delta log layout, Iceberg version-hint layout
and snapshot sequence numbers, write-mode matrix, positional schema
alignment cases."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_loader_spark.sinks import alignment as AL
from lakehouse_loader_spark.sinks import delta as DL
from lakehouse_loader_spark.sinks import iceberg as IC
from lakehouse_loader_spark.sinks.modes import (
    TargetExistsError,
    WriteMode,
    WriteModeError,
    resolve_write_mode,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sink_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") * 2).alias("doubled"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
    )


# -- write-mode matrix (R15) ------------------------------------------------


def test_mode_matrix():
    assert resolve_write_mode(False, False) is WriteMode.CREATE_EXCLUSIVE
    assert resolve_write_mode(True, False) is WriteMode.OVERWRITE
    assert resolve_write_mode(False, True) is WriteMode.APPEND
    with pytest.raises(WriteModeError):
        resolve_write_mode(True, True)


# -- positional alignment (R12): the reference's six unit cases -------------


def _s(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


def test_alignment_positive_identical():
    s = _s(("a", T.LongType(), True), ("b", T.StringType(), True))
    AL.check_schema_aligned(s, s)


def test_alignment_positive_renamed():
    AL.check_schema_aligned(
        _s(("x", T.LongType(), True)), _s(("a", T.LongType(), True))
    )


def test_alignment_positive_required_into_nullable():
    AL.check_schema_aligned(
        _s(("a", T.LongType(), False)), _s(("a", T.LongType(), True))
    )


def test_alignment_negative_added_field():
    with pytest.raises(AL.SchemaAlignmentError):
        AL.check_schema_aligned(
            _s(("a", T.LongType(), True), ("b", T.LongType(), True)),
            _s(("a", T.LongType(), True)),
        )


def test_alignment_negative_type_mismatch():
    with pytest.raises(AL.SchemaAlignmentError):
        AL.check_schema_aligned(
            _s(("a", T.StringType(), True)), _s(("a", T.LongType(), True))
        )


def test_alignment_negative_reorder():
    with pytest.raises(AL.SchemaAlignmentError):
        AL.check_schema_aligned(
            _s(("b", T.StringType(), True), ("a", T.LongType(), True)),
            _s(("a", T.LongType(), True), ("b", T.StringType(), True)),
        )


def test_alignment_negative_nullable_into_required():
    with pytest.raises(AL.SchemaAlignmentError):
        AL.check_schema_aligned(
            _s(("a", T.LongType(), True)), _s(("a", T.LongType(), False))
        )


# -- Delta sink (R9): layout + modes + roundtrip ---------------------------


def test_delta_layout_and_roundtrip(spark, small_df, tmpdir):
    """Reference asserts exactly: _delta_log commits 0 and 1 + snappy part
    files (tests/basic_integration.rs:48-60)."""
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)
    log = sorted(os.listdir(os.path.join(path, "_delta_log")))
    # the two-commit layout plus the r8 version-checksum sidecars
    assert [f for f in log if f.endswith(".json")] == [
        f"{0:020d}.json",
        f"{1:020d}.json",
    ]
    assert [f for f in log if f.endswith(".crc")] == [
        f"{0:020d}.crc",
        f"{1:020d}.crc",
    ]
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert parts and all(".snappy." in p or p.endswith(".parquet") for p in parts)
    back = DL.read_delta(spark, path)
    assert back.orderBy("id").collect() == small_df.orderBy("id").collect()


def test_delta_create_exclusive_refuses_existing(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)
    with pytest.raises(TargetExistsError):
        DL.write_delta(small_df, path)


def test_delta_overwrite_replaces(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)
    DL.write_delta(small_df.limit(10), path, overwrite=True)
    assert DL.read_delta(spark, path).count() == 10


def test_delta_append_accumulates_and_checks_alignment(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)
    renamed = small_df.toDF("i", "d", "n")  # rename-compatible (positional)
    DL.write_delta(renamed, path, append=True)
    assert DL.read_delta(spark, path).count() == 200
    bad = small_df.select(F.col("id").cast("string"), "doubled", "name")
    with pytest.raises(AL.SchemaAlignmentError):
        DL.write_delta(bad, path, append=True)


# -- Iceberg sink (R11-R16): layout + sequence numbers + alignment ----------


def test_iceberg_layout_and_roundtrip(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    assert os.path.isfile(os.path.join(path, "metadata", "v0.metadata.json"))
    assert os.path.isfile(os.path.join(path, "metadata", "version-hint.text"))
    assert any(f.endswith(".parquet") for f in os.listdir(os.path.join(path, "data")))
    assert IC.snapshot_sequence_numbers(path) == [1]
    back = IC.read_iceberg(spark, path)
    assert back.orderBy("id").collect() == small_df.orderBy("id").collect()


def test_iceberg_overwrite_bumps_sequence(spark, small_df, tmpdir):
    """Sequence numbers [1] after create, [1,2] after overwrite
    (tests/basic_integration.rs:107-121, 203-217)."""
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    IC.write_iceberg(small_df.limit(5), path, overwrite=True)
    assert IC.snapshot_sequence_numbers(path) == [1, 2]
    assert IC.read_iceberg(spark, path).count() == 5


def test_iceberg_append_keeps_prior_manifests(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    IC.write_iceberg(small_df, path, append=True)
    assert IC.snapshot_sequence_numbers(path) == [1, 2]
    assert IC.read_iceberg(spark, path).count() == 200


def test_iceberg_refuses_existing_without_overwrite(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    with pytest.raises(TargetExistsError):
        IC.write_iceberg(small_df, path)


def test_iceberg_incompatible_schema_on_overwrite(spark, small_df, tmpdir):
    """cint8::text-style type change with -o → BadInputError in the
    reference (tests/basic_integration.rs:143-160)."""
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    bad = small_df.select(F.col("id").cast("string"), "doubled", "name")
    with pytest.raises(AL.SchemaAlignmentError):
        IC.write_iceberg(bad, path, overwrite=True)


def test_iceberg_renamed_computed_schema_compatible(spark, small_df, tmpdir):
    """Renamed + computed columns of identical types succeed
    (tests/basic_integration.rs:162-173)."""
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    computed = small_df.select(
        (F.col("id") + 1).alias("id_plus"), F.col("doubled").alias("d2"), F.upper("name").alias("n")
    )
    IC.write_iceberg(computed, path, overwrite=True)
    assert IC.snapshot_sequence_numbers(path) == [1, 2]


def test_iceberg_field_ids_sequential(small_df):
    ice = IC.schema_to_iceberg(small_df.schema)
    assert [f["id"] for f in ice["fields"]] == [1, 2, 3]


# -- CLI glue ---------------------------------------------------------------


def test_cli_parquet_to_delta(spark, small_df, tmpdir):
    from lakehouse_loader_spark.cli import do_main

    src = os.path.join(tmpdir, "src.parquet")
    small_df.write.parquet(src)
    target = os.path.join(tmpdir, "out")
    do_main(["parquet-to-delta", src, target])
    assert DL.read_delta(spark, target).count() == 100
    # the CLI catches TargetExistsError, prints the reference's message
    # (src/delta_destination.rs:421-427), and exits nonzero
    with pytest.raises(SystemExit) as exc_info:
        do_main(["parquet-to-delta", src, target])
    assert exc_info.value.code == 1
    do_main(["parquet-to-delta", src, target, "-o"])
    assert DL.read_delta(spark, target).count() == 100


def test_cli_maintenance_subcommands(spark, small_df, tmpdir):
    """optimize-delta / vacuum-delta / expire-snapshots: the scheduled
    maintenance trio next to the loader, exposed on the same CLI."""
    from lakehouse_loader_spark.cli import do_main

    src = os.path.join(tmpdir, "srcm.parquet")
    small_df.write.parquet(src)
    delta_t = os.path.join(tmpdir, "dt")
    do_main(["parquet-to-delta", src, delta_t])
    do_main(["parquet-to-delta", src, delta_t, "-o"])  # superseded files
    do_main(["optimize-delta", delta_t, "--target-partitions", "1"])
    do_main(["vacuum-delta", delta_t])
    assert DL.read_delta(spark, delta_t).count() == 100

    ice_t = os.path.join(tmpdir, "it")
    do_main(["parquet-to-iceberg", src, ice_t])
    do_main(["parquet-to-iceberg", src, ice_t, "-a"])
    assert len(IC.snapshot_ids(ice_t)) == 2
    do_main(["expire-snapshots", ice_t, "--keep-last", "1"])
    assert len(IC.snapshot_ids(ice_t)) == 1
    assert IC.read_iceberg(spark, ice_t).count() == 200


def test_cli_exists_message_matches_reference(spark, small_df, tmpdir, capsys):
    from lakehouse_loader_spark.cli import do_main

    src = os.path.join(tmpdir, "src2.parquet")
    small_df.write.parquet(src)
    target = os.path.join(tmpdir, "out2")
    do_main(["parquet-to-delta", src, target])
    with pytest.raises(SystemExit):
        do_main(["parquet-to-delta", src, target])
    err = capsys.readouterr().err
    assert f"{target} already contains data, pass --overwrite to overwrite" in err


# -- time travel + optimistic-concurrency conflicts -------------------------


def test_delta_time_travel(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)                       # versions 0,1
    DL.write_delta(small_df.limit(10), path, append=True)  # version 2
    assert DL.read_delta(spark, path).count() == 110
    assert DL.read_delta(spark, path, version=1).count() == 100
    with pytest.raises(ValueError):
        DL.read_delta(spark, path, version=9)


def test_delta_append_commit_conflict_retries(spark, small_df, tmpdir):
    """Simulate a concurrent writer winning the race for version N+1: the
    append must detect the exclusive-create conflict, re-read state, and
    land at N+2 (reference retry loop, src/lib.rs:82)."""
    import json

    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path)  # versions 0,1
    # a "concurrent writer" claims version 2 with an empty commit
    with open(os.path.join(path, "_delta_log", f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    DL.write_delta(small_df.limit(7), path, append=True)
    log = sorted(os.listdir(os.path.join(path, "_delta_log")))
    assert f"{3:020d}.json" in log  # landed AFTER the conflicting commit
    assert DL.read_delta(spark, path).count() == 107


def test_iceberg_commit_conflict_retries(spark, small_df, tmpdir):
    """Pre-claim vN+1.metadata.json: the append retries, re-merges against
    the winner's state, and commits vN+2 (R14 + R16 re-merge)."""
    import json as _json

    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)  # v0
    # concurrent writer claims v1 with a copy of v0's metadata
    with open(os.path.join(path, "metadata", "v0.metadata.json")) as fh:
        meta = _json.load(fh)
    with open(os.path.join(path, "metadata", "v1.metadata.json"), "w") as fh:
        _json.dump(meta, fh)
    IC.write_iceberg(small_df.limit(5), path, append=True)
    assert os.path.isfile(os.path.join(path, "metadata", "v2.metadata.json"))
    with open(os.path.join(path, "metadata", "version-hint.text")) as fh:
        assert fh.read().strip() == "2"
    assert IC.read_iceberg(spark, path).count() == 105


def test_delta_partitioned_write_and_pruning(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    part = small_df.withColumn("bucket", (F.col("id") % 4).cast("string"))
    DL.write_delta(part, path, partition_by=["bucket"])
    assert os.path.isdir(os.path.join(path, "bucket=0"))
    back = DL.read_delta(spark, path)
    assert back.count() == 100
    assert set(back.columns) == {"id", "doubled", "name", "bucket"}
    pruned = back.filter(F.col("bucket") == "2")
    assert pruned.count() == 25
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan
    # append inherits the table's partitioning
    DL.write_delta(part.limit(8), path, append=True)
    assert DL.read_delta(spark, path).count() == 108


def test_delta_optimize_compacts(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df.repartition(8), path)
    import glob

    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 8
    DL.optimize_delta(spark, path)
    latest, _, adds = DL._read_log(path)
    assert len(adds) == 1  # live set compacted to one file
    assert DL.read_delta(spark, path).count() == 100
    # time travel to pre-optimize still sees 8 files' worth of rows
    assert DL.read_delta(spark, path, version=1).count() == 100


def test_bucketed_join_elides_shuffle(spark, tmpdir):
    """Two tables bucketed on the join key: the SortMergeJoin must run with
    NO Exchange on either side (the shuffle was paid at write time)."""
    from lakehouse_loader_spark.sinks.bucketed import bucketed_join, write_bucketed

    from lakehouse_loader_spark.catalog import load_table

    from tests.conftest import SF_ORACLE

    o = load_table(spark, SF_ORACLE, "orders")
    c = load_table(spark, SF_ORACLE, "customer").withColumnRenamed("c_custkey", "o_custkey")
    write_bucketed(o, "b_orders", "o_custkey", n_buckets=8)
    write_bucketed(c, "b_customer", "o_custkey", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        plain = o.join(c, "o_custkey").count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_delta_stats_enable_file_skipping(spark, tmpdir):
    """Sorted writes produce disjoint per-file ranges; stats pruning must
    read fewer files yet return exactly the filtered rows."""
    path = os.path.join(tmpdir, "t")
    df = spark.range(0, 1000).select("id", (F.col("id") * 2).alias("v")).orderBy("id")
    DL.write_delta(df.coalesce(1), path, max_rows_per_file=100)
    kept, total = DL.prune_files_by_stats(path, "id", 250, 349)
    assert total == 10 and len(kept) <= 2
    pruned = DL.read_delta_pruned(spark, path, "id", 250, 349).filter(
        F.col("id").between(250, 349)
    )
    assert pruned.count() == 100


def test_delta_vacuum_removes_unreferenced(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df.repartition(4), path)
    DL.optimize_delta(spark, path)
    import glob

    n_before = len(glob.glob(os.path.join(path, "*.parquet")))
    deleted = DL.vacuum_delta(path)
    assert len(deleted) == 4  # the pre-compaction files
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == n_before - 4
    assert DL.read_delta(spark, path).count() == 100


def test_delta_merge_upserts(spark, tmpdir):
    """MERGE: updates overwrite matched keys, new keys insert, stats pruning
    limits the rewrite to files whose key range intersects the source."""
    path = os.path.join(tmpdir, "t")
    base = spark.range(0, 1000).select("id", (F.col("id") * 2).alias("v")).orderBy("id")
    DL.write_delta(base.coalesce(1), path, max_rows_per_file=100)  # 10 files
    src = spark.createDataFrame(
        [(5, -1), (250, -2), (255, -3), (5000, -4)], ["id", "v"]
    )
    result = DL.merge_delta(spark, path, src, key="id")
    assert result["updated"] == 3 and result["inserted"] == 1
    assert result["rewritten_files"] == 2  # only files whose range has a key
    back = DL.read_delta(spark, path)
    assert back.count() == 1001
    got = {r.id: r.v for r in back.filter(F.col("id").isin(5, 250, 255, 5000, 7)).collect()}
    assert got == {5: -1, 250: -2, 255: -3, 5000: -4, 7: 14}


def test_delta_optimize_sorted_clustering_tightens_stats(spark, tmpdir):
    """sort_by clustering: after OPTIMIZE with sorting, stats pruning on the
    sort key must touch fewer files than before."""
    path = os.path.join(tmpdir, "t")
    import pyspark.sql.functions as F2

    df = spark.range(0, 1000).select(
        F2.pmod(F2.col("id") * 37, F2.lit(1000)).alias("k"), F2.col("id").alias("v")
    )
    DL.write_delta(df.repartition(10), path)  # k scattered across all files
    kept_before, total_before = DL.prune_files_by_stats(path, "k", 100, 199)
    assert len(kept_before) == total_before == 10  # no pruning possible
    DL.optimize_delta(spark, path, target_partitions=1, sort_by=["k"], max_rows_per_file=100)
    kept_after, total_after = DL.prune_files_by_stats(path, "k", 100, 199)
    assert total_after == 10 and len(kept_after) <= 2
    assert DL.read_delta(spark, path).count() == 1000


def test_delta_optimize_zorder_prunes_on_every_clustered_column(spark, tmpdir):
    """ZORDER clustering: after OPTIMIZE zorder_by=[x, y], stats pruning
    must skip files for predicates on EITHER column (a plain sort only
    tightens its leading key)."""
    path = os.path.join(tmpdir, "tz")
    import pyspark.sql.functions as F2

    # 64x64 grid, row order scrambled so initial files have full-range stats
    df = (
        spark.range(0, 4096)
        .select(
            F2.pmod(F2.col("id") * 2654435761, F2.lit(64)).alias("x"),
            F2.pmod(F2.col("id") * 40503, F2.lit(64)).alias("y"),
            F2.col("id").alias("v"),
        )
    )
    DL.write_delta(df.repartition(16), path)
    kept_x0, total0 = DL.prune_files_by_stats(path, "x", 0, 7)
    kept_y0, _ = DL.prune_files_by_stats(path, "y", 0, 7)
    assert len(kept_x0) == total0 == 16 and len(kept_y0) == 16  # no pruning
    DL.optimize_delta(spark, path, target_partitions=16, zorder_by=["x", "y"])
    kept_x, total = DL.prune_files_by_stats(path, "x", 0, 7)
    kept_y, _ = DL.prune_files_by_stats(path, "y", 0, 7)
    assert total == 16
    # an eighth of the key range on either dimension must skip most files
    assert len(kept_x) <= 8 and len(kept_y) <= 8
    back = DL.read_delta(spark, path)
    assert back.count() == 4096
    assert back.agg(F2.sum("v")).collect()[0][0] == sum(range(4096))


def test_delta_merge_on_partitioned_table(spark, tmpdir):
    """MERGE on a partitioned table must preserve partition values (they
    live in directory names — candidate reads need basePath)."""
    path = os.path.join(tmpdir, "t")
    base = spark.range(0, 100).select(
        "id", (F.col("id") % 3).cast("string").alias("bucket"), (F.col("id") * 2).alias("v")
    )
    DL.write_delta(base, path, partition_by=["bucket"])
    src = spark.createDataFrame([(9, "0", -1), (500, "2", -2)], ["id", "bucket", "v"])
    result = DL.merge_delta(spark, path, src, key="id")
    assert result["updated"] == 1 and result["inserted"] == 1
    back = DL.read_delta(spark, path)
    assert back.count() == 101
    assert back.filter("bucket IS NULL").count() == 0  # no lost partition values
    got = {r.id: (r.bucket, r.v) for r in back.filter(F.col("id").isin(9, 500)).collect()}
    assert got == {9: ("0", -1), 500: ("2", -2)}
    # pruned reads on the partitioned table also re-derive partition values
    pruned = DL.read_delta_pruned(spark, path, "id", 0, 10)
    assert pruned.filter("bucket IS NULL").count() == 0
    # duplicate source keys are rejected (Delta MERGE contract)
    dup = spark.createDataFrame([(1, "1", 0), (1, "1", 9)], ["id", "bucket", "v"])
    with pytest.raises(ValueError):
        DL.merge_delta(spark, path, dup, key="id")


def test_iceberg_time_travel_by_snapshot(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    IC.write_iceberg(small_df.limit(5), path, append=True)
    snaps = IC.snapshot_ids(path)
    assert len(snaps) == 2
    assert IC.read_iceberg(spark, path).count() == 105
    assert IC.read_iceberg(spark, path, snapshot_id=snaps[0]).count() == 100
    with pytest.raises(ValueError):
        IC.read_iceberg(spark, path, snapshot_id=123)


def test_delta_read_appends_incremental(spark, small_df, tmpdir):
    """Incremental append feed: rows added after a checkpointed version,
    planned from the log only; ranges whose history is not append-only
    (optimize rewrote files) must fail loudly instead of double-counting."""
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df.repartition(2), path)  # v0+v1 (protocol, adds)
    v1 = max(h["version"] for h in DL.table_history(path))
    DL.write_delta(small_df.limit(7), path, append=True)
    DL.write_delta(small_df.limit(3), path, append=True)
    inc = DL.read_delta_appends(spark, path, since_version=v1)
    assert inc.count() == 10
    # bounded range: only the first append
    v2 = v1 + 1
    assert DL.read_delta_appends(spark, path, v1, end_version=v2).count() == 7
    # empty range
    assert DL.read_delta_appends(spark, path, v1, end_version=v1).count() == 0
    # full consistency: base snapshot + feed == latest snapshot
    assert DL.read_delta(spark, path, version=v1).count() + inc.count() == \
        DL.read_delta(spark, path).count()
    # OPTIMIZE rewrites files → the feed over that range must refuse
    from lakehouse_loader_spark.sinks.delta import ConcurrentModificationError

    DL.optimize_delta(spark, path, target_partitions=1)
    with pytest.raises(ConcurrentModificationError, match="append-only"):
        DL.read_delta_appends(spark, path, since_version=v1)


def test_iceberg_snapshot_props_and_last_committed_batch(spark, small_df, tmpdir):
    """Snapshot summary properties (the Iceberg analog of Delta's txn
    action) carry stream batch markers; last_committed_batch scans every
    retained snapshot so interleaved plain writes can't shadow a marker."""
    path = os.path.join(tmpdir, "t")
    assert IC.last_committed_batch(path, "appX") == -1  # no table yet
    IC.write_iceberg(small_df, path, snapshot_props={"lhl-stream-appX": "0"})
    assert IC.last_committed_batch(path, "appX") == 0
    # a plain append without props must not disturb the marker
    IC.write_iceberg(small_df.limit(3), path, append=True)
    assert IC.last_committed_batch(path, "appX") == 0
    IC.write_iceberg(
        small_df.limit(5), path, append=True,
        snapshot_props={"lhl-stream-appX": "1"},
    )
    assert IC.last_committed_batch(path, "appX") == 1
    assert IC.last_committed_batch(path, "other-app") == -1


def test_iceberg_expire_snapshots_append_lineage(spark, small_df, tmpdir):
    """Appends share manifests across snapshots: expiring the old snapshots
    must delete only their manifest LISTS (one per snapshot) — every
    manifest and data file is still referenced by the retained snapshot,
    and the full row count survives."""
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    IC.write_iceberg(small_df.limit(5), path, append=True)
    IC.write_iceberg(small_df.limit(3), path, append=True)
    assert len(IC.snapshot_ids(path)) == 3
    deleted = IC.expire_snapshots(path, keep_last=1)
    assert len(IC.snapshot_ids(path)) == 1
    assert deleted and all("manifest-list-" in p for p in deleted)
    assert IC.read_iceberg(spark, path).count() == 108


def test_iceberg_expire_snapshots_overwrite_lineage(spark, small_df, tmpdir):
    """An overwrite starts a new data lineage: expiring the pre-overwrite
    snapshot must delete its manifest list, its manifests AND its data
    files (nothing retained references them), and time travel to the
    expired id must fail."""
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    old_snap = IC.snapshot_ids(path)[0]
    IC.write_iceberg(small_df.limit(7), path, overwrite=True)
    # the overwritten data files exist before expiry
    data_before = set()
    for root, _d, files in os.walk(os.path.join(path, "data")):
        data_before.update(files)
    deleted = IC.expire_snapshots(path, keep_last=1)
    kinds = {p.split("/")[0] for p in deleted}
    assert any("manifest-list-" in p for p in deleted)
    assert any(
        "manifest-" in p and "manifest-list-" not in p for p in deleted
    )  # the lineage's manifests proper, not just its list
    assert "data" in kinds  # orphaned data files physically removed
    for rel in deleted:
        assert not os.path.exists(os.path.join(path, rel))
    assert IC.read_iceberg(spark, path).count() == 7
    with pytest.raises(ValueError):
        IC.read_iceberg(spark, path, snapshot_id=old_snap)


def test_iceberg_expire_snapshots_noop_and_guardrails(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "t")
    IC.write_iceberg(small_df, path)
    assert IC.expire_snapshots(path, keep_last=1) == []  # nothing to expire
    with pytest.raises(ValueError, match="keep_last"):
        IC.expire_snapshots(path, keep_last=0)


def test_delta_optimize_conflict_on_removed_input(spark, small_df, tmpdir):
    """OPTIMIZE whose snapshot inputs were removed by a concurrent commit
    must raise ConcurrentModificationError, not re-commit stale removes
    (which would double every row via the rewritten copies)."""
    import json as _json

    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df.repartition(4), path)

    real_read = DL._read_log
    state = {"injected": False}

    def hooked(p, as_of_version=None):
        out = real_read(p, as_of_version)
        if not state["injected"]:
            # right after OPTIMIZE takes its snapshot, a concurrent commit
            # removes one of its input files (e.g. another OPTIMIZE won)
            state["injected"] = True
            victim = sorted(out[2])[0]
            with open(os.path.join(p, "_delta_log", f"{out[0] + 1:020d}.json"), "w") as fh:
                fh.write(
                    _json.dumps({"remove": {"path": victim, "dataChange": False}}) + "\n"
                )
        return out

    DL._read_log = hooked
    try:
        with pytest.raises(DL.ConcurrentModificationError):
            DL.optimize_delta(spark, path)
    finally:
        DL._read_log = real_read


def test_delta_merge_conflict_on_concurrent_append(spark, tmpdir):
    """MERGE must abort when a file appended after its snapshot may contain
    rows matching the merge keys (lost-update prevention)."""
    import json as _json

    path = os.path.join(tmpdir, "t")
    base = spark.range(0, 100).select("id", (F.col("id") * 2).alias("v"))
    DL.write_delta(base, path)

    src = spark.createDataFrame([(5, -1)], ["id", "v"])

    real_read = DL._read_log
    state = {"injected": False}

    def hooked(p, as_of_version=None):
        out = real_read(p, as_of_version)
        # after merge takes its snapshot, a concurrent append commits a file
        # containing id=5 (inside the merge key range)
        if not state["injected"]:
            state["injected"] = True
            DL.write_delta(
                spark.range(5, 6).select("id", (F.col("id") * 0 + 999).alias("v")),
                p,
                append=True,
            )
        return out

    DL._read_log = hooked
    try:
        with pytest.raises(DL.ConcurrentModificationError):
            DL.merge_delta(spark, path, src, key="id")
    finally:
        DL._read_log = real_read


def test_delta_merge_conflict_on_temporal_key(spark, tmpdir):
    """Temporal merge keys: parquet-footer stats serialize datetimes as
    isoformat strings, so the conflict check must canonicalize the source
    key bounds the same way (str vs datetime comparison raised TypeError
    before) and still detect the stale snapshot."""
    path = os.path.join(tmpdir, "t")
    base = spark.range(0, 100).select(
        F.to_date(F.concat(F.lit("2024-01-"), F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"))).alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    DL.write_delta(base, path)
    src = spark.sql("SELECT DATE'2024-01-05' AS d, -1L AS v")

    real_read = DL._read_log
    state = {"injected": False}

    def hooked(p, as_of_version=None):
        out = real_read(p, as_of_version)
        if not state["injected"]:
            state["injected"] = True
            DL.write_delta(
                spark.sql("SELECT DATE'2024-01-05' AS d, 999L AS v"), p, append=True
            )
        return out

    DL._read_log = hooked
    try:
        with pytest.raises(DL.ConcurrentModificationError):
            DL.merge_delta(spark, path, src, key="d")
    finally:
        DL._read_log = real_read


def test_delta_merge_empty_source_ignores_concurrent_append(spark, tmpdir):
    """An empty merge source can't match anything, so a concurrent append
    must NOT abort the merge (it used to spuriously conflict on the None
    key bounds)."""
    path = os.path.join(tmpdir, "t")
    base = spark.range(0, 50).select("id", (F.col("id") * 2).alias("v"))
    DL.write_delta(base, path)
    src = spark.createDataFrame([], "id BIGINT, v BIGINT")

    real_read = DL._read_log
    state = {"injected": False}

    def hooked(p, as_of_version=None):
        out = real_read(p, as_of_version)
        if not state["injected"]:
            state["injected"] = True
            DL.write_delta(
                spark.range(1000, 1001).select("id", F.lit(1).cast("long").alias("v")),
                p,
                append=True,
            )
        return out

    DL._read_log = hooked
    try:
        result = DL.merge_delta(spark, path, src, key="id")
    finally:
        DL._read_log = real_read
    assert result["updated"] == 0 and result["inserted"] == 0
    assert DL.read_delta(spark, path).count() == 51


def test_delta_commit_info_records_partition_by(small_df, tmpdir):
    import json as _json

    path = os.path.join(tmpdir, "t")
    df = small_df.withColumn("p", (F.col(small_df.columns[0]).cast("long") % 2).cast("string"))
    DL.write_delta(df, path, partition_by=["p"])
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json")) as fh:
        first = _json.loads(fh.readline())
    assert _json.loads(first["commitInfo"]["operationParameters"]["partitionBy"]) == ["p"]


def test_delta_txn_idempotent_append(spark, small_df, tmpdir):
    """A write stamped with an already-committed (appId, version) is the
    caller's signal to skip — last_txn_version exposes the high-water mark
    (exactly-once handshake used by stream_to_delta)."""
    path = os.path.join(tmpdir, "t")
    DL.write_delta(small_df, path, txn=("app-1", 0))
    assert DL.last_txn_version(path, "app-1") == 0
    assert DL.last_txn_version(path, "other-app") == -1
    DL.write_delta(small_df.limit(3), path, append=True, txn=("app-1", 1))
    assert DL.last_txn_version(path, "app-1") == 1
    assert DL.read_delta(spark, path).count() == 103


def test_delta_checkpoint_bounds_replay_and_preserves_state(spark, tmpdir):
    """After >10 commits a checkpoint parquet + _last_checkpoint exist, the
    checkpoint-seeded replay equals the pure-JSON replay exactly, and time
    travel to pre-checkpoint versions still works."""
    path = os.path.join(tmpdir, "ckpt")
    df0 = spark.range(0, 10).withColumnRenamed("id", "v")
    DL.write_delta(df0, path)  # v0 + v1
    for i in range(1, 12):
        DL.write_delta(
            spark.range(10 * i, 10 * i + 10).withColumnRenamed("id", "v"),
            path, append=True, txn=("app-x", i),
        )  # v2..v12
    ckpts = [f for f in os.listdir(os.path.join(path, "_delta_log"))
             if f.endswith(".checkpoint.parquet")]
    assert ckpts, "no checkpoint written by the 10th commit"
    assert os.path.exists(os.path.join(path, "_delta_log", "_last_checkpoint"))
    latest, meta, adds = DL._read_log(path)
    # hide the checkpoints -> force pure-JSON replay -> identical state
    log = os.path.join(path, "_delta_log")
    for f in ckpts:
        os.rename(os.path.join(log, f), os.path.join(log, f + ".hidden"))
    latest2, meta2, adds2 = DL._read_log(path)
    for f in ckpts:
        os.rename(os.path.join(log, f + ".hidden"), os.path.join(log, f))
    assert latest == latest2
    assert meta["schemaString"] == meta2["schemaString"]
    assert adds.keys() == adds2.keys()
    for p in adds:
        assert adds[p]["stats"] == adds2[p]["stats"]
        assert adds[p]["partitionValues"] == adds2[p]["partitionValues"]
    # data correct through the checkpointed read path
    assert DL.read_delta(spark, path).count() == 120
    # txn idempotency state survives into the checkpoint
    assert DL.last_txn_version(path, "app-x") == 11
    # time travel to a pre-checkpoint version ignores the checkpoint
    assert DL.read_delta(spark, path, version=1).count() == 10
    assert DL.read_delta(spark, path, version=5).count() == 50


def test_delta_checkpoint_partitioned_roundtrip(spark, tmpdir):
    """partitionValues survive the parquet map round-trip in checkpoints."""
    path = os.path.join(tmpdir, "ckptp")
    import pyspark.sql.functions as F2

    df = spark.range(0, 40).select(
        F2.col("id").alias("v"), F2.pmod("id", F2.lit(4)).cast("string").alias("k")
    )
    DL.write_delta(df, path, partition_by=["k"])
    v = DL.write_checkpoint(path)
    assert v >= 1
    _, meta, adds = DL._read_log(path)
    assert meta["partitionColumns"] == ["k"]
    assert all(a["partitionValues"].get("k") in {"0", "1", "2", "3"} for a in adds.values())
    back = DL.read_delta(spark, path)
    assert back.count() == 40
    got = {r.k for r in back.select("k").distinct().collect()}
    assert got == {"0", "1", "2", "3"}


def test_iceberg_partitioned_write_read_and_prune(spark, tmpdir):
    """Identity-partitioned iceberg: spec recorded, hive layout written,
    manifests carry partition values, pruned read touches only matching
    files, append inherits the spec."""
    from lakehouse_loader_spark.sinks import iceberg as IC
    import pyspark.sql.functions as F2

    path = os.path.join(tmpdir, "ice_part")
    df = spark.range(0, 40).select(
        F2.col("id").alias("v"), F2.pmod("id", F2.lit(4)).cast("string").alias("k")
    )
    IC.write_iceberg(df, path, partition_by=["k"])
    _, meta = IC._read_metadata(path)
    spec = meta["partition-specs"][meta["default-spec-id"]]
    assert [f["name"] for f in spec["fields"]] == ["k"]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["field-id"] == 1000

    back = IC.read_iceberg(spark, path)
    assert back.count() == 40
    assert {r.k for r in back.select("k").distinct().collect()} == {"0", "1", "2", "3"}

    kept, total = IC.prune_iceberg_files(path, "k", "2")
    assert 0 < len(kept) < total
    pruned = IC.read_iceberg_pruned(spark, path, "k", "2")
    rows = pruned.collect()
    assert all(r.k == "2" for r in rows) and len(rows) == 10

    # append inherits the table spec (no partition_by passed)
    more = spark.range(40, 48).select(
        F2.col("id").alias("v"), F2.lit("9").alias("k")
    )
    IC.write_iceberg(more, path, append=True)
    assert IC.read_iceberg(spark, path).count() == 48
    kept9, _ = IC.prune_iceberg_files(path, "k", "9")
    assert kept9 and all("k=9" in p for p in kept9)
    # mismatched explicit spec on append is rejected
    with pytest.raises(ValueError):
        IC.write_iceberg(more, path, append=True, partition_by=["v"])


def test_iceberg_partition_spec_evolution_on_overwrite(spark, tmpdir):
    """Overwrite with a different partitioning records a NEW spec-id and
    makes it the default (old spec retained in metadata history)."""
    from lakehouse_loader_spark.sinks import iceberg as IC
    import pyspark.sql.functions as F2

    path = os.path.join(tmpdir, "ice_evo")
    df = spark.range(0, 20).select(
        F2.col("id").alias("v"), F2.pmod("id", F2.lit(2)).cast("string").alias("k")
    )
    IC.write_iceberg(df, path)  # unpartitioned spec 0
    IC.write_iceberg(df, path, overwrite=True, partition_by=["k"])
    _, meta = IC._read_metadata(path)
    assert len(meta["partition-specs"]) == 2
    assert meta["default-spec-id"] == 1
    assert [f["name"] for f in meta["partition-specs"][1]["fields"]] == ["k"]
    assert IC.read_iceberg(spark, path).count() == 20
    # sequence numbers keep their lineage across the spec change
    assert IC.snapshot_sequence_numbers(path) == [1, 2]


def test_delta_restore_and_history(spark, tmpdir):
    """RESTORE reverts state as a new commit; DESCRIBE HISTORY shows every
    operation newest-first, including the restore itself."""
    path = os.path.join(tmpdir, "rest")
    DL.write_delta(spark.range(0, 10).withColumnRenamed("id", "v"), path)   # v0+v1
    DL.write_delta(spark.range(10, 30).withColumnRenamed("id", "v"), path, append=True)  # v2
    DL.write_delta(spark.range(0, 5).withColumnRenamed("id", "v"), path, overwrite=True)  # fresh v0/v1 lineage
    assert DL.read_delta(spark, path).count() == 5
    # overwrite rebuilt the table dir; build a restore scenario on the new lineage
    DL.write_delta(spark.range(5, 12).withColumnRenamed("id", "v"), path, append=True)  # v2
    assert DL.read_delta(spark, path).count() == 12
    DL.restore_delta(spark, path, version=1)  # back to the 5-row snapshot
    assert DL.read_delta(spark, path).count() == 5
    # the restore is itself a version: time travel forward still sees 12
    assert DL.read_delta(spark, path, version=2).count() == 12
    hist = DL.table_history(path)
    assert hist[0]["operation"] == "RESTORE"
    # operationParameters values are strings, per the Delta convention
    assert hist[0]["operationParameters"]["version"] == "1"
    assert [h["version"] for h in hist] == [3, 2, 1, 0]
    # restoring forward again (undo the restore) also works
    DL.restore_delta(spark, path, version=2)
    assert DL.read_delta(spark, path).count() == 12


def test_iceberg_prune_canonicalizes_values_and_rejects_non_partition_cols(spark, tmpdir):
    """Boolean partition values compare through the hive form ('true', not
    'True'); pruning on a non-partition column raises instead of silently
    returning zero files."""
    from lakehouse_loader_spark.sinks import iceberg as IC
    import pyspark.sql.functions as F2

    path = os.path.join(tmpdir, "ice_bool")
    df = spark.range(0, 20).select(
        F2.col("id").alias("v"), (F2.pmod("id", F2.lit(2)) == 0).alias("flag")
    )
    IC.write_iceberg(df, path, partition_by=["flag"])
    kept_true, total = IC.prune_iceberg_files(path, "flag", True)
    assert kept_true and len(kept_true) < total
    rows = IC.read_iceberg_pruned(spark, path, "flag", True).collect()
    assert rows and all(r.flag is True for r in rows)
    with pytest.raises(ValueError):
        IC.prune_iceberg_files(path, "v", 3)


def test_iceberg_read_appends_incremental(spark, small_df, tmpdir):
    """Iceberg incremental append scan (twin of the Delta feed): metadata-
    only planning of the file-set delta between two snapshots; overwrite in
    the range must fail loudly."""
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(small_df, path)
    s1 = IC.snapshot_ids(path)[-1]
    IC.write_iceberg(small_df.limit(7), path, append=True)
    s2 = IC.snapshot_ids(path)[-1]
    IC.write_iceberg(small_df.limit(3), path, append=True)
    inc = IC.read_iceberg_appends(spark, path, since_snapshot_id=s1)
    assert inc.count() == 10
    assert IC.read_iceberg_appends(spark, path, s1, end_snapshot_id=s2).count() == 7
    assert IC.read_iceberg_appends(spark, path, s1, end_snapshot_id=s1).count() == 0
    # base snapshot + feed == current snapshot
    assert IC.read_iceberg(spark, path, snapshot_id=s1).count() + inc.count() == \
        IC.read_iceberg(spark, path).count()
    with pytest.raises(ValueError):
        IC.read_iceberg_appends(spark, path, since_snapshot_id=424242)
    # overwrite replaces the file set → the feed over that range must refuse
    from lakehouse_loader_spark.sinks.delta import ConcurrentModificationError

    IC.write_iceberg(small_df.limit(5), path, overwrite=True)
    with pytest.raises(ConcurrentModificationError, match="append-only"):
        IC.read_iceberg_appends(spark, path, since_snapshot_id=s1)


def test_convert_delta_to_iceberg_metadata_only(spark, small_df, tmpdir):
    """Metadata-only migration: the Iceberg snapshot references the Delta
    parquet files in place (no data copied), reads back equal, and the
    converted table accepts its own appends afterwards."""
    dpath = os.path.join(tmpdir, "d")
    ipath = os.path.join(tmpdir, "i")
    DL.write_delta(small_df.repartition(3), dpath)
    res = IC.convert_delta_to_iceberg(dpath, ipath)
    assert res["rows"] == 100 and res["files"] >= 1
    # no parquet was copied into the iceberg table
    assert not os.path.exists(os.path.join(ipath, "data"))
    back = IC.read_iceberg(spark, ipath)
    assert back.count() == 100
    assert {r.id for r in back.collect()} == {r.id for r in DL.read_delta(spark, dpath).collect()}
    # post-conversion append writes into the ICEBERG table's own data/
    IC.write_iceberg(small_df.limit(5), ipath, append=True)
    assert IC.read_iceberg(spark, ipath).count() == 105
    assert os.path.exists(os.path.join(ipath, "data"))
    # refusals: existing target, partitioned source
    with pytest.raises(TargetExistsError):
        IC.convert_delta_to_iceberg(dpath, ipath)
    ppath = os.path.join(tmpdir, "dp")
    DL.write_delta(small_df.withColumn("b", F.col("id") % 2), ppath, partition_by=["b"])
    with pytest.raises(ValueError, match="unpartitioned"):
        IC.convert_delta_to_iceberg(ppath, os.path.join(tmpdir, "i2"))


def test_cli_convert_delta_to_iceberg(spark, small_df, tmpdir):
    from lakehouse_loader_spark.cli import do_main

    dpath = os.path.join(tmpdir, "d")
    ipath = os.path.join(tmpdir, "i")
    DL.write_delta(small_df, dpath)
    do_main(["convert-delta-to-iceberg", dpath, ipath])
    assert IC.read_iceberg(spark, ipath).count() == 100


def test_delta_delete_rewrites_only_matching_files(spark, tmpdir):
    """Copy-on-write DELETE: rows matching the predicate disappear, files
    with no matches are carried as-is (same physical file), history keeps
    the pre-delete snapshot, and NULL predicate results are KEPT."""
    path = os.path.join(tmpdir, "t")
    lo = spark.range(0, 50).select("id", (F.col("id") % 2 == 0).alias("flag"))
    hi = spark.range(1000, 1050).select("id", F.lit(None).cast("boolean").alias("flag"))
    DL.write_delta(lo.repartition(1), path)
    DL.write_delta(hi.repartition(1), path, append=True)
    v_before = max(h["version"] for h in DL.table_history(path))
    _, _, adds_before = DL._read_log(path)

    res = DL.delete_from_delta(spark, path, "flag = true AND id < 20")
    assert res["deleted_rows"] == 10  # ids 0,2,...,18
    assert res["rewritten_files"] == 1 and res["kept_files"] == 1
    back = DL.read_delta(spark, path)
    assert back.count() == 90
    assert back.filter("flag = true AND id < 20").count() == 0
    # null-flag rows (hi range) are kept in full
    assert back.filter("id >= 1000").count() == 50
    # untouched file is the SAME file, not a rewrite
    _, _, adds_after = DL._read_log(path)
    assert set(adds_before) & set(adds_after)
    # time travel still sees the pre-delete rows
    assert DL.read_delta(spark, path, version=v_before).count() == 100
    # predicate with no matches is a no-op commit-wise
    res2 = DL.delete_from_delta(spark, path, "id = 999999")
    assert res2 == {"deleted_rows": 0, "rewritten_files": 0,
                    "kept_files": len(adds_after)}


def test_iceberg_delete_rewrites_only_matching_files(spark, tmpdir):
    """Copy-on-write DELETE on the Iceberg sink: matches disappear, the
    untouched file carries over without rewrite, time travel still sees
    the pre-delete snapshot, and partitioned tables keep their partition
    values through the carried-over manifest entries."""
    path = os.path.join(tmpdir, "ice")
    lo = spark.range(0, 50).select("id", (F.col("id") % 2 == 0).alias("flag"))
    hi = spark.range(1000, 1050).select("id", F.lit(None).cast("boolean").alias("flag"))
    IC.write_iceberg(lo.coalesce(1), path)
    IC.write_iceberg(hi.coalesce(1), path, append=True)
    pre = IC.snapshot_ids(path)[-1]

    res = IC.delete_from_iceberg(spark, path, "flag = true AND id < 20")
    assert res["deleted_rows"] == 10
    assert res["rewritten_files"] == 1 and res["kept_files"] == 1
    back = IC.read_iceberg(spark, path)
    assert back.count() == 90
    assert back.filter("flag = true AND id < 20").count() == 0
    assert back.filter("id >= 1000").count() == 50  # null-flag rows kept
    assert IC.read_iceberg(spark, path, snapshot_id=pre).count() == 100
    # no-match predicate: no new snapshot
    v_before = IC.snapshot_ids(path)
    res2 = IC.delete_from_iceberg(spark, path, "id = 999999")
    assert res2["deleted_rows"] == 0 and IC.snapshot_ids(path) == v_before

    # partitioned variant
    ppath = os.path.join(tmpdir, "icep")
    df = spark.range(0, 60).select("id", (F.col("id") % 3).alias("b"))
    IC.write_iceberg(df, ppath, partition_by=["b"])
    res3 = IC.delete_from_iceberg(spark, ppath, "b = 1 AND id < 30")
    assert res3["deleted_rows"] == 10
    back3 = IC.read_iceberg(spark, ppath)
    assert back3.count() == 50
    assert back3.filter("b = 1").count() == 10  # ids 31..58 step 3
    # partition pruning still works on carried-over + rewritten entries
    files, total = IC.prune_iceberg_files(ppath, "b", 2)
    assert files and len(files) < total


def test_delta_update_rewrites_only_matching_files(spark, tmpdir):
    """Copy-on-write UPDATE: matching rows change, non-matching rows in
    rewritten files survive byte-equal, untouched files carry over, and
    partition-column updates are refused."""
    path = os.path.join(tmpdir, "t")
    DL.write_delta(spark.range(0, 50).select("id", F.lit(1.0).alias("v")).repartition(1), path)
    DL.write_delta(
        spark.range(100, 150).select("id", F.lit(2.0).alias("v")).repartition(1),
        path, append=True,
    )
    res = DL.update_delta(spark, path, "id < 10", {"v": "v + 100"})
    assert res["updated_rows"] == 10
    assert res["rewritten_files"] == 1 and res["kept_files"] == 1
    back = DL.read_delta(spark, path)
    assert back.filter("id < 10").agg(F.min("v"), F.max("v")).first() == (101.0, 101.0)
    assert back.filter("id >= 10 AND id < 50").agg(F.max("v")).first()[0] == 1.0
    assert back.filter("id >= 100").agg(F.max("v")).first()[0] == 2.0
    with pytest.raises(ValueError, match="not in table schema"):
        DL.update_delta(spark, path, "id < 5", {"nope": "1"})
    ppath = os.path.join(tmpdir, "tp")
    DL.write_delta(
        spark.range(0, 20).select("id", (F.col("id") % 2).alias("b")), ppath,
        partition_by=["b"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        DL.update_delta(spark, ppath, "id < 5", {"b": "b + 1"})


def test_delta_delete_on_uri_escaped_partition_values(spark, tmpdir):
    """input_file_name() percent-escapes partition directory names (e.g. a
    ':' in a string partition value); the DELETE/UPDATE probe must unquote
    before comparing against the log's add paths, else the rewrite set
    comes out empty or conflicts spuriously."""
    path = os.path.join(tmpdir, "t esc")  # space in the table root too
    df = spark.createDataFrame(
        [(i, "00:30" if i % 2 == 0 else "01 45") for i in range(40)],
        "id long, slot string",
    )
    DL.write_delta(df, path, partition_by=["slot"])
    res = DL.delete_from_delta(spark, path, "slot = '00:30' AND id < 10")
    assert res["deleted_rows"] == 5
    back = DL.read_delta(spark, path)
    assert back.count() == 35
    assert back.filter("slot = '00:30'").count() == 15
    res2 = DL.update_delta(spark, path, "slot = '01 45'", {"id": "id + 1000"})
    assert res2["updated_rows"] == 20
    assert DL.read_delta(spark, path).filter("id >= 1000").count() == 20


def test_iceberg_delete_on_uri_escaped_partition_values(spark, tmpdir):
    """Iceberg twin of the escaped-path probe: un-decoded URIs would BOTH
    carry the affected file over AND re-add its kept rows (resurrected
    deletes + duplicated rows) — exactness of the file-set diff depends on
    unquoting."""
    path = os.path.join(tmpdir, "ice esc")
    df = spark.createDataFrame(
        [(i, "00:30" if i % 2 == 0 else "0145") for i in range(40)],
        "id long, slot string",
    )
    IC.write_iceberg(df, path, partition_by=["slot"])
    res = IC.delete_from_iceberg(spark, path, "slot = '00:30' AND id < 10")
    assert res["deleted_rows"] == 5
    back = IC.read_iceberg(spark, path)
    assert back.count() == 35
    assert back.filter("slot = '00:30'").count() == 15


def test_iceberg_optimize_compacts_and_keeps_history(spark, small_df, tmpdir):
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(small_df.repartition(4), path)
    IC.write_iceberg(small_df.limit(20).repartition(3), path, append=True)
    pre = IC.snapshot_ids(path)[-1]
    res = IC.optimize_iceberg(spark, path, target_partitions=1, sort_by=["id"])
    assert res["rewritten_files"] >= 7 and res["new_files"] == 1
    assert IC.read_iceberg(spark, path).count() == 120
    assert IC.read_iceberg(spark, path, snapshot_id=pre).count() == 120
    # partitioned: one compacted file per partition dir, pruning intact
    ppath = os.path.join(tmpdir, "icep")
    IC.write_iceberg(
        small_df.withColumn("b", F.col("id") % 2).repartition(4), ppath,
        partition_by=["b"],
    )
    res2 = IC.optimize_iceberg(spark, ppath, target_partitions=1)
    assert res2["new_files"] == 2  # one per b=0 / b=1
    files, total = IC.prune_iceberg_files(ppath, "b", 1)
    assert len(files) == 1 and total == 2


def test_iceberg_update_rewrites_only_matching_files(spark, tmpdir):
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(
        spark.range(0, 50).select("id", F.lit(1.0).alias("v")).coalesce(1), path
    )
    IC.write_iceberg(
        spark.range(100, 150).select("id", F.lit(2.0).alias("v")).coalesce(1),
        path, append=True,
    )
    res = IC.update_iceberg(spark, path, "id < 10", {"v": "v + 100"})
    assert res["updated_rows"] == 10
    assert res["rewritten_files"] == 1 and res["kept_files"] == 1
    back = IC.read_iceberg(spark, path)
    assert back.filter("id < 10").agg(F.min("v"), F.max("v")).first() == (101.0, 101.0)
    assert back.filter("id >= 100").agg(F.max("v")).first()[0] == 2.0
    with pytest.raises(ValueError, match="not in table schema"):
        IC.update_iceberg(spark, path, "id < 5", {"nope": "1"})
    ppath = os.path.join(tmpdir, "icep")
    IC.write_iceberg(
        spark.range(0, 20).select("id", (F.col("id") % 2).alias("b")), ppath,
        partition_by=["b"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        IC.update_iceberg(spark, ppath, "id < 5", {"b": "b + 1"})


def test_iceberg_merge_upserts_by_key(spark, tmpdir):
    """MERGE on the Iceberg sink: matched keys update in place (their files
    rewritten), unmatched source rows insert, untouched files carry over,
    history keeps the pre-merge snapshot."""
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(
        spark.range(0, 30).select("id", F.lit(1.0).alias("v")).coalesce(1), path
    )
    IC.write_iceberg(
        spark.range(100, 130).select("id", F.lit(1.0).alias("v")).coalesce(1),
        path, append=True,
    )
    pre = IC.snapshot_ids(path)[-1]
    source = spark.createDataFrame(
        [(5, 50.0), (10, 99.0), (500, 7.0)], "id long, v double"
    )
    res = IC.merge_iceberg(spark, path, source, key="id")
    assert res == {"rewritten_files": 1, "updated": 2, "inserted": 1}
    back = IC.read_iceberg(spark, path)
    assert back.count() == 61
    got = {r.id: r.v for r in back.filter("id in (5, 10, 500, 105)").collect()}
    assert got == {5: 50.0, 10: 99.0, 500: 7.0, 105: 1.0}
    assert IC.read_iceberg(spark, path, snapshot_id=pre).count() == 60
    with pytest.raises(ValueError, match="duplicate"):
        IC.merge_iceberg(
            spark, path,
            spark.createDataFrame([(1, 1.0), (1, 2.0)], "id long, v double"),
            key="id",
        )
    with pytest.raises(ValueError, match="must match table"):
        IC.merge_iceberg(
            spark, path, spark.createDataFrame([(1,)], "id long"), key="id"
        )


def test_cli_dml_subcommands(spark, small_df, tmpdir):
    """update-/delete- for both formats through the real CLI arg parser."""
    from lakehouse_loader_spark.cli import do_main

    dp = os.path.join(tmpdir, "d")
    ip = os.path.join(tmpdir, "i")
    DL.write_delta(small_df, dp)
    IC.write_iceberg(small_df, ip)
    do_main(["update-delta", dp, "--where", "id < 10", "--set", "doubled = doubled + 1"])
    do_main(["delete-delta", dp, "--where", "id >= 90"])
    assert DL.read_delta(spark, dp).count() == 90
    assert DL.read_delta(spark, dp).filter("id = 5").first()["doubled"] == 11
    do_main(["update-iceberg", ip, "--where", "id < 10", "--set", "doubled = doubled + 1"])
    do_main(["delete-iceberg", ip, "--where", "id >= 90"])
    assert IC.read_iceberg(spark, ip).count() == 90
    assert IC.read_iceberg(spark, ip).filter("id = 5").first()["doubled"] == 11
    do_main(["optimize-iceberg", ip, "--target-partitions", "1"])
    assert IC.read_iceberg(spark, ip).count() == 90


def test_iceberg_rollback_restores_old_snapshot(spark, small_df, tmpdir):
    """Rollback re-points CURRENT at a retained snapshot as a NEW commit:
    data reads equal the old state, history keeps growing (undoable), and
    rolling back onto expired files fails loudly."""
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(small_df, path)
    s1 = IC.snapshot_ids(path)[-1]
    IC.write_iceberg(small_df.limit(13), path, append=True)
    assert IC.read_iceberg(spark, path).count() == 113
    IC.rollback_iceberg(path, s1)
    assert IC.read_iceberg(spark, path).count() == 100
    assert len(IC.snapshot_ids(path)) == 3  # create + append + rollback
    # undoing: roll forward to the append snapshot
    s2 = IC.snapshot_ids(path)[1]
    IC.rollback_iceberg(path, s2)
    assert IC.read_iceberg(spark, path).count() == 113
    with pytest.raises(ValueError):
        IC.rollback_iceberg(path, 424242)


def test_convert_iceberg_to_delta_metadata_only(spark, small_df, tmpdir):
    """Reverse conversion: the Delta log's absolute add paths reference the
    Iceberg data files in place (no bytes copied), rows/schema round-trip,
    and the converted table accepts its own appends afterwards.  Refused:
    existing target, partitioned source, merge-on-read delete files."""
    import glob as _glob

    ipath = os.path.join(tmpdir, "ice")
    dpath = os.path.join(tmpdir, "dl")
    IC.write_iceberg(small_df.repartition(2), ipath)
    res = DL.convert_iceberg_to_delta(ipath, dpath)
    assert res["files"] == 2 and res["rows"] == small_df.count()
    assert _glob.glob(os.path.join(dpath, "*.parquet")) == []  # metadata only
    back = DL.read_delta(spark, dpath)
    assert back.count() == small_df.count()
    # nullability flattens through the Iceberg schema (optional fields);
    # names and types must survive exactly
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in small_df.schema.fields
    ]
    # appended files land under the DELTA root and read together
    DL.write_delta(small_df.limit(7), dpath, append=True)
    assert DL.read_delta(spark, dpath).count() == small_df.count() + 7

    with pytest.raises(TargetExistsError):
        DL.convert_iceberg_to_delta(ipath, dpath)
    ppath = os.path.join(tmpdir, "icep")
    IC.write_iceberg(
        small_df.withColumn("b", F.col("id") % 2), ppath, partition_by=["b"]
    )
    with pytest.raises(ValueError, match="unpartitioned"):
        DL.convert_iceberg_to_delta(ppath, os.path.join(tmpdir, "d2"))
    mpath = os.path.join(tmpdir, "icem")
    IC.write_iceberg(small_df, mpath)
    IC.delete_from_iceberg(spark, mpath, "id < 5", strategy="merge-on-read")
    with pytest.raises(ValueError, match="position-delete"):
        DL.convert_iceberg_to_delta(mpath, os.path.join(tmpdir, "d3"))


def test_cli_convert_iceberg_to_delta(spark, small_df, tmpdir):
    from lakehouse_loader_spark.cli import do_main

    ipath = os.path.join(tmpdir, "ice")
    dpath = os.path.join(tmpdir, "dl")
    IC.write_iceberg(small_df, ipath)
    do_main(["convert-iceberg-to-delta", ipath, dpath])
    assert DL.read_delta(spark, dpath).count() == small_df.count()


def test_delta_binpack_compaction_rewrites_only_small_files(spark, tmpdir):
    """small_file_threshold on the Delta side: the big file carries over
    (still referenced, not removed), small files pack, rows unchanged, and
    a threshold with <2 qualifying files is a no-op commit-wise."""
    path = os.path.join(tmpdir, "dl")
    DL.write_delta(spark.range(0, 50_000).coalesce(1), path)
    for lo in (60_000, 60_100, 60_200):
        DL.write_delta(spark.range(lo, lo + 100).coalesce(1), path, append=True)
    _, _, adds = DL._read_log(path)
    big = max(adds, key=lambda p: adds[p].get("size", 0))
    threshold = max(a.get("size", 0) for a in adds.values())

    DL.optimize_delta(spark, path, small_file_threshold=threshold)
    latest, _, adds2 = DL._read_log(path)
    assert big in adds2  # carried
    assert len(adds2) < len(adds)
    assert DL.read_delta(spark, path).count() == 50_300

    before = latest
    DL.optimize_delta(spark, path, small_file_threshold=threshold)  # no-op
    latest2, _, _ = DL._read_log(path)
    assert latest2 == before


def test_time_travel_by_timestamp_both_formats(spark, tmpdir):
    """AS OF TIMESTAMP: the latest commit/snapshot at or before the instant
    wins; earlier instants raise; later instants see the newest state."""
    import time as _time

    from lakehouse_loader_spark.sinks import iceberg as IC
    from lakehouse_loader_spark.sinks.delta import (
        read_delta,
        version_as_of,
        write_delta,
    )

    dpath = os.path.join(str(tmpdir), "dl")
    ipath = os.path.join(str(tmpdir), "ice")
    write_delta(spark.range(0, 10), dpath)
    IC.write_iceberg(spark.range(0, 10), ipath)
    t_mid = int(_time.time() * 1000)
    _time.sleep(1.1)  # commit timestamps are ms; ensure strict separation
    write_delta(spark.range(10, 30), dpath, append=True)
    IC.write_iceberg(spark.range(10, 30), ipath, append=True)

    assert read_delta(spark, dpath, as_of_timestamp_ms=t_mid).count() == 10
    assert IC.read_iceberg(spark, ipath, as_of_timestamp_ms=t_mid).count() == 10
    t_now = int(_time.time() * 1000)
    assert read_delta(spark, dpath, as_of_timestamp_ms=t_now).count() == 30
    assert IC.read_iceberg(spark, ipath, as_of_timestamp_ms=t_now).count() == 30
    with pytest.raises(ValueError, match="at or before"):
        version_as_of(dpath, 1000)
    with pytest.raises(ValueError, match="at or before"):
        IC.snapshot_as_of(ipath, 1000)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, dpath, version=0, as_of_timestamp_ms=t_now)
    with pytest.raises(ValueError, match="at most one"):
        IC.read_iceberg(spark, ipath, snapshot_id=1, as_of_timestamp_ms=t_now)


def test_vacuum_retain_versions_window(spark, tmpdir):
    """VACUUM with a retention window: files referenced by the last N
    versions survive, time travel inside the window keeps working, and a
    later unwindowed vacuum reclaims them."""
    from lakehouse_loader_spark.sinks.delta import (
        _read_log,
        optimize_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    path = os.path.join(str(tmpdir), "dl")
    write_delta(spark.range(0, 10).coalesce(1), path)
    write_delta(spark.range(10, 30).coalesce(1), path, append=True)
    pre_optimize = _read_log(path)[0]
    optimize_delta(spark, path)  # rewrites; old files stay for time travel
    # retention window covers the pre-optimize version: nothing reclaimed
    assert vacuum_delta(path, retain_versions=1) == []
    assert read_delta(spark, path, version=pre_optimize).count() == 30
    # unwindowed vacuum reclaims the two pre-optimize files
    deleted = vacuum_delta(path)
    assert len(deleted) == 2
    assert read_delta(spark, path).count() == 30
    with pytest.raises(Exception):
        read_delta(spark, path, version=pre_optimize).collect()


def test_parquet_physical_layout_parity(spark, tmpdir):
    """Reference physical layout (delta_destination.rs:43, 58-61): both
    sinks write exact 122,880-row parquet row groups with page statistics
    (column + offset indexes) — asserted from the written footers."""
    import glob

    import pyarrow.parquet as pq

    from lakehouse_loader_spark.session import MAX_ROW_GROUP_SIZE

    df = spark.range(0, 300_000).selectExpr(
        "id", "cast(id % 97 as double) as v"
    ).coalesce(1)

    def check(files):
        assert files
        for f in files:
            md = pq.ParquetFile(f).metadata
            groups = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
            # every group but the last is exactly the reference size
            assert all(g == MAX_ROW_GROUP_SIZE for g in groups[:-1]), groups
            assert 0 < groups[-1] <= MAX_ROW_GROUP_SIZE
            col = md.row_group(0).column(0)
            assert col.statistics is not None
            # page statistics: parquet-mr's column/offset indexes
            assert col.has_column_index and col.has_offset_index

    d = os.path.join(str(tmpdir), "rg_delta")
    DL.write_delta(df, d)
    check(glob.glob(os.path.join(d, "*.parquet")))

    i = os.path.join(str(tmpdir), "rg_ice")
    IC.write_iceberg(df, i)
    check(glob.glob(os.path.join(i, "data", "*.parquet")))


def test_empty_reads_plan_a_local_scan(spark, small_df, tmpdir):
    """A read that prunes every file returns an Arrow-built empty frame: a
    LocalTableScan, never a PythonRDD scan (``Scan ExistingRDD``) whose
    every action starts Python workers."""
    d = os.path.join(tmpdir, "delta")
    i = os.path.join(tmpdir, "ice")
    DL.write_delta(small_df, d)
    IC.write_iceberg(small_df, i)
    for empty in (
        DL.read_delta_pruned(spark, d, "id", 1000, 2000),
        IC.read_iceberg_stats_pruned(spark, i, "id", 1000, 2000),
    ):
        plan = empty._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert empty.schema.names == small_df.columns
        assert empty.count() == 0
