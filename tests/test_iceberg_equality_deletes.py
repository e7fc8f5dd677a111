"""Equality deletes (Iceberg spec v2 content=2): delete-by-key without
scanning the table, sequence-number application semantics, maintenance
interplay."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_loader_spark.sinks import iceberg as IC


def _table(spark, path):
    IC.write_iceberg(
        spark.range(0, 100).select("id", (F.col("id") * 2.0).alias("v")).coalesce(2),
        path,
    )


def test_equality_delete_drops_keys_and_respects_sequence(spark, tmpdir):
    """Rows matching the key set disappear from every pre-delete file;
    the SAME key appended AFTER the delete survives (strictly-smaller-
    sequence application — the upsert semantic)."""
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    res = IC.equality_delete_iceberg(
        spark, path, spark.createDataFrame([(3,), (7,), (999,)], "id long")
    )
    assert res["delete_files"] >= 1 and res["key_rows"] == 3
    assert glob.glob(os.path.join(path, "data", "eqdelete-*.parquet"))

    back = IC.read_iceberg(spark, path)
    assert back.count() == 98
    assert back.filter("id IN (3, 7)").count() == 0

    # re-insert key 3 AFTER the delete: the new row must survive
    IC.write_iceberg(
        spark.range(3, 4).select("id", F.lit(-1.0).alias("v")), path, append=True
    )
    back2 = IC.read_iceberg(spark, path)
    assert back2.count() == 99
    assert back2.filter("id = 3").collect()[0].v == -1.0
    assert back2.filter("id = 7").count() == 0  # old deletion still applies

    # a SECOND equality delete re-kills the reinserted row
    IC.equality_delete_iceberg(spark, path, spark.createDataFrame([(3,)], "id long"))
    assert IC.read_iceberg(spark, path).filter("id = 3").count() == 0


def test_equality_delete_multi_column_keys_and_nulls(spark, tmpdir):
    path = os.path.join(tmpdir, "ice")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0), (3, None, 4.0)],
        "id long, k string, v double",
    )
    IC.write_iceberg(df, path)
    IC.equality_delete_iceberg(
        spark,
        path,
        spark.createDataFrame([(1, "a"), (3, None)], "id long, k string"),
        key_cols=["id", "k"],
    )
    rows = {(r.id, r.k) for r in IC.read_iceberg(spark, path).collect()}
    # (1,'a') and the NULL-key row are gone (null-safe equality); others stay
    assert rows == {(1, "b"), (2, "a")}
    with pytest.raises(ValueError, match="not in table schema"):
        IC.equality_delete_iceberg(
            spark, path, spark.createDataFrame([(1,)], "nope long")
        )


def test_equality_deletes_block_cow_until_compacted(spark, tmpdir):
    """Copy-on-write DML / MERGE / bin-packing cannot partially rewrite a
    table with equality deletes (the affected-file set isn't knowable
    from metadata) — they refuse; full OPTIMIZE purges and unblocks."""
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    IC.equality_delete_iceberg(spark, path, spark.createDataFrame([(5,)], "id long"))
    with pytest.raises(ValueError, match="equality-delete"):
        IC.delete_from_iceberg(spark, path, "id = 10")
    with pytest.raises(ValueError, match="equality-delete"):
        IC.merge_iceberg(
            spark,
            path,
            spark.createDataFrame([(10, 0.0)], "id long, v double"),
            key="id",
        )
    with pytest.raises(ValueError, match="equality-delete"):
        IC.optimize_iceberg(spark, path, small_file_threshold=10**9)

    out = IC.optimize_iceberg(spark, path)  # full compaction applies + purges
    assert out["purged_delete_files"] >= 1
    back = IC.read_iceberg(spark, path)
    assert back.count() == 99 and back.filter("id = 5").count() == 0
    # unblocked now
    res = IC.delete_from_iceberg(spark, path, "id = 10")
    assert res["deleted_rows"] == 1


def test_equality_delete_change_feed_and_pruned_reads(spark, tmpdir):
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    base = IC.snapshot_ids(path)[-1]
    IC.equality_delete_iceberg(
        spark, path, spark.createDataFrame([(1,), (2,)], "id long")
    )
    ch = IC.read_iceberg_changes(spark, path, since_snapshot_id=base).collect()
    assert {r["_change_type"] for r in ch} == {"delete"}
    assert sorted(r.id for r in ch) == [1, 2]
    # stats-pruned read applies equality deletes too
    pruned = IC.read_iceberg_stats_pruned(spark, path, "id", 0, 10)
    assert pruned.filter("id IN (1, 2)").count() == 0
    # appends reader refuses the range (delete set changed)
    from lakehouse_loader_spark.sinks.delta import ConcurrentModificationError

    with pytest.raises(ConcurrentModificationError):
        IC.read_iceberg_appends(spark, path, since_snapshot_id=base)


def test_merge_refuses_even_when_bounds_prune_everything(spark, tmpdir):
    """Regression: a MERGE whose source keys fall entirely outside every
    file's bounds scans nothing — the refusal must fire BEFORE the probe,
    or the commit would silently drop the equality-delete manifests and
    resurrect deleted rows."""
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)  # ids 0..99 → bounds exclude 100000
    IC.equality_delete_iceberg(spark, path, spark.createDataFrame([(5,)], "id long"))
    with pytest.raises(ValueError, match="equality-delete"):
        IC.merge_iceberg(
            spark,
            path,
            spark.createDataFrame([(100000, 0.0)], "id long, v double"),
            key="id",
        )
    # the table is untouched: the delete still applies
    assert IC.read_iceberg(spark, path).filter("id = 5").count() == 0


def test_equality_delete_on_table_with_file_path_column(spark, tmpdir):
    """A user column literally named file_path must survive the
    sequence-map join (helper columns use reserved __-names)."""
    path = os.path.join(tmpdir, "ice")
    df = spark.createDataFrame(
        [(1, "/a/b.bin"), (2, "/c/d.bin"), (3, "/e/f.bin")],
        "id long, file_path string",
    )
    IC.write_iceberg(df, path)
    IC.equality_delete_iceberg(spark, path, spark.createDataFrame([(2,)], "id long"))
    rows = {(r.id, r.file_path) for r in IC.read_iceberg(spark, path).collect()}
    assert rows == {(1, "/a/b.bin"), (3, "/e/f.bin")}


def test_cli_eqdelete_subcommand(spark, tmpdir):
    from lakehouse_loader_spark.cli import do_main

    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    keys = os.path.join(tmpdir, "keys")
    spark.createDataFrame([(11,), (12,)], "id long").write.parquet(keys)
    do_main(["eqdelete-iceberg", path, "--keys-from", keys, "--key-cols", "id"])
    back = IC.read_iceberg(spark, path)
    assert back.count() == 98
    assert back.filter("id IN (11, 12)").count() == 0


def test_equality_delete_files_excluded_from_partition_prune(spark, tmpdir):
    """Equality-delete files are written with an EMPTY partition dict even on
    partitioned tables (they address keys, not partitions), so a prune probe
    with value=None must not match them as data, and `total` must count only
    data files (ADVICE r5)."""
    path = os.path.join(tmpdir, "icep")
    df = spark.range(0, 60).select(
        "id",
        F.when(F.col("id") < 40, F.col("id") % 2).alias("b"),
        (F.col("id") * 2.0).alias("v"),
    )
    IC.write_iceberg(df.repartition(3, "b"), path, partition_by=["b"])
    n_data = len(
        [
            f
            for f in glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
            if "delete-" not in os.path.basename(f)
        ]
    )
    IC.equality_delete_iceberg(
        spark, path, spark.createDataFrame([(41,), (43,)], "id long")
    )

    # value=None selects the null partition — only genuine data files
    files, total = IC.prune_iceberg_files(path, "b", None)
    assert all("delete-" not in os.path.basename(f) for f in files)
    assert total == n_data, "delete files must not inflate the candidate total"
    pruned = IC.read_iceberg_pruned(spark, path, "b", None)
    rows = pruned.collect()
    assert sorted(r.id for r in rows) == [40, 42] + list(range(44, 60)), (
        "null-partition scan must apply the equality delete and never scan "
        "the key file as data"
    )
    assert all(r.v == r.id * 2.0 for r in rows)


def test_eq_delete_broadcast_gated_and_never_bnlj(spark, tmpdir, monkeypatch):
    """Equality deletes are O(keys) by design, but a streaming-upsert feed
    accumulates keys without bound between OPTIMIZE purges — the key-frame
    broadcast must gate on the manifests' record counts, and the shuffled
    fallback must stay a hash/merge anti-join: the eqNullSafe key
    conjuncts are equi-keys, the seq comparison an extra condition.  A
    future Spark degrading this to BroadcastNestedLoopJoin fails here."""
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    IC.equality_delete_iceberg(
        spark, path, spark.createDataFrame([(3,), (7,)], "id long")
    )

    def plans(df):
        qe = df._jdf.queryExecution()
        return qe.optimizedPlan().toString(), qe.executedPlan().toString()

    under_log, under_phys = plans(IC.read_iceberg(spark, path))
    assert "strategy=broadcast" in under_log
    assert "BroadcastNestedLoopJoin" not in under_phys
    monkeypatch.setattr(IC, "DELETE_BROADCAST_MAX", 0)
    over = IC.read_iceberg(spark, path)
    over_log, over_phys = plans(over)
    # seq_map (file->seq, file-count-sized) legitimately keeps its hint;
    # the anti-join delete-key side must have lost its
    n_hints = over_log.count("strategy=broadcast")
    assert n_hints < under_log.count("strategy=broadcast")
    assert "BroadcastNestedLoopJoin" not in over_phys
    assert over.count() == 98  # rows identical under either plan


def test_eq_deleted_read_builds_its_seq_map_from_arrow(spark, tmpdir):
    """The (file → sequence) map every equality-deleted read joins is an
    Arrow-built LocalTableScan: a list-built map plans as a PythonRDD
    scan, which starts Python workers on every read of the table."""
    path = os.path.join(tmpdir, "ice")
    _table(spark, path)
    IC.equality_delete_iceberg(spark, path, spark.createDataFrame([(3,)], "id long"))
    back = IC.read_iceberg(spark, path)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert back.count() == 99
