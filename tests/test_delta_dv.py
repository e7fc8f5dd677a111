"""Deletion vectors for the Delta sink (merge-on-read DELETE): the
pure-numpy roaring codec against the published formats, the DV write/read
lifecycle, protocol table-features gating, and every rewrite path's
DV-awareness (COW DML, MERGE, OPTIMIZE purge, vacuum, CDF, checkpoints).

The reference pins Delta at protocol (1,1) with no DML at all
(src/delta_destination.rs:446-458); deletion vectors are this repo's
format twin of the Iceberg sink's position deletes (test_iceberg_mor.py).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_loader_spark.sinks import delta as D
from lakehouse_loader_spark.sinks import dv as DV
from lakehouse_loader_spark.sinks.delta import ConcurrentModificationError

from _plans import formatted_plan, local_relation_rows, python_nodes


def _dv_bins(path):
    return sorted(glob.glob(os.path.join(path, "deletion_vector_*.bin")))


def _parquets(path):
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _table(spark, path, n=10_000, files=4):
    df = (
        spark.range(0, n)
        .select(
            "id",
            (F.col("id") % 10).alias("grp"),
            (F.col("id") * 2).alias("val"),
        )
        .repartition(files)
    )
    D.write_delta(df, path)
    return df


# -- codec ------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40)), min_size=0, max_size=400
    )
)
def test_roaring_roundtrip_random(positions):
    data = DV.serialize_positions(np.array(positions, dtype=np.uint64))
    back = DV.deserialize_positions(data)
    assert np.array_equal(back, np.unique(np.array(positions, dtype=np.uint64)))


def test_roaring_dense_uses_bitmap_containers():
    """>4096 values in one 16-bit chunk must serialize as a fixed 8 KiB
    bitset, not a value list — the size proves the container switch."""
    pos = np.arange(0, 60_000, dtype=np.uint64)  # one full chunk swap
    data = DV.serialize_positions(pos)
    # chunk 0 has 65536... wait: 60k values < 65536 → single 16-bit chunk
    # with card 60000 > 4096 → bitmap container (8192 bytes) + headers
    assert len(data) < 2 * len(pos)  # far below the 120 KB array encoding
    assert np.array_equal(DV.deserialize_positions(data), pos)


def test_z85_roundtrip_uuid():
    import uuid

    u = uuid.uuid4()
    enc = DV.z85_encode(u.bytes)
    assert len(enc) == 20
    assert DV.z85_decode(enc) == u.bytes


def test_dv_file_crc_detects_corruption(tmpdir):
    blob = DV.serialize_positions(np.arange(100, dtype=np.uint64))
    rel, spans = DV.write_dv_file(str(tmpdir), [blob])
    desc = DV.make_descriptor(rel, *spans[0], cardinality=100)
    fp = os.path.join(str(tmpdir), rel)
    raw = bytearray(open(fp, "rb").read())
    raw[10] ^= 0xFF  # flip a payload byte
    open(fp, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum|size"):
        DV.load_descriptor(str(tmpdir), desc)


# -- lifecycle --------------------------------------------------------------


def test_mor_delete_writes_bitmaps_not_data(spark, tmpdir):
    """Merge-on-read DELETE rewrites NO parquet: the data-file set is
    byte-identical, a DV appears, and reads drop exactly the matched rows.
    Time travel to the pre-delete version still sees everything."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    before = {p: os.path.getmtime(p) for p in _parquets(path)}
    pre_version, _, _ = D._read_log(path)

    res = D.delete_from_delta(spark, path, "id % 7 = 0", mode="merge-on-read")
    assert res["deleted_rows"] == 1429
    assert res["removed_files"] == 0 and res["dv_files"] == 4
    after = {p: os.path.getmtime(p) for p in _parquets(path)}
    assert after == before  # no data file touched

    got = D.read_delta(spark, path)
    assert got.count() == 10_000 - 1429
    assert got.filter("id % 7 = 0").count() == 0
    assert (
        got.agg(F.sum("val")).first()[0]
        == spark.range(0, 10_000).filter("id % 7 != 0").agg(F.sum(F.col("id") * 2)).first()[0]
    )
    # pre-delete snapshot unaffected
    assert D.read_delta(spark, path, version=pre_version).count() == 10_000


def test_mor_delete_upgrades_protocol_in_same_commit(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    assert D.table_protocol(path)["minReaderVersion"] == 1
    D.delete_from_delta(spark, path, "id = 5", mode="merge-on-read")
    proto = D.table_protocol(path)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    # the upgrade rides in the DV commit itself
    latest, _, _ = D._read_log(path)
    lines = [
        json.loads(line) for line in open(D._version_file(path, latest))
    ]
    assert any("protocol" in a for a in lines) and any("add" in a for a in lines)


def test_second_delete_merges_dv(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.delete_from_delta(spark, path, "id % 7 = 0", mode="merge-on-read")
    D.delete_from_delta(spark, path, "id % 5 = 0", mode="merge-on-read")
    exp = spark.range(0, 10_000).filter("id % 7 != 0 AND id % 5 != 0").count()
    assert D.read_delta(spark, path).count() == exp
    # descriptors carry the UNION cardinality
    _, _, adds = D._read_log(path)
    total_card = sum(a["deletionVector"]["cardinality"] for a in adds.values())
    assert total_card == 10_000 - exp


def test_small_delete_inlines_large_delete_packs(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=4000, files=1)
    D.delete_from_delta(spark, path, "id IN (1, 2, 3)", mode="merge-on-read")
    _, _, adds = D._read_log(path)
    (desc,) = [a["deletionVector"] for a in adds.values()]
    assert desc["storageType"] == "i" and not _dv_bins(path)
    D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    _, _, adds = D._read_log(path)
    (desc,) = [a["deletionVector"] for a in adds.values()]
    assert desc["storageType"] == "u" and len(_dv_bins(path)) == 1
    # union cardinality: {1,2,3} ∪ evens — id=2 counted once
    assert desc["cardinality"] == 2002
    assert D.read_delta(spark, path).count() == 4000 - 2002


def test_full_file_delete_drops_the_file(spark, tmpdir):
    """A DV covering every physical row removes the file from the table
    instead of carrying a 100%-dead DV."""
    path = os.path.join(tmpdir, "t")
    lo = spark.range(0, 100).select("id")
    hi = spark.range(1000, 1100).select("id")
    D.write_delta(lo.coalesce(1), path)
    D.write_delta(hi.coalesce(1), path, append=True)
    res = D.delete_from_delta(spark, path, "id < 500", mode="merge-on-read")
    assert res == {"deleted_rows": 100, "dv_files": 0, "removed_files": 1}
    _, _, adds = D._read_log(path)
    assert len(adds) == 1 and not any(
        a.get("deletionVector") for a in adds.values()
    )
    assert D.read_delta(spark, path).count() == 100


# -- interplay with the other surfaces --------------------------------------


def test_cow_update_respects_dv(spark, tmpdir):
    """UPDATE on a DV'd table must not resurrect deleted rows: the rewrite
    reads through the DV, and the new files carry none."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.delete_from_delta(spark, path, "grp = 3", mode="merge-on-read")
    res = D.update_delta(spark, path, "grp = 4", {"val": "val + 1"})
    assert res["updated_rows"] == 1000
    got = D.read_delta(spark, path)
    assert got.filter("grp = 3").count() == 0  # still deleted
    assert got.count() == 9000
    _, _, adds = D._read_log(path)
    assert not any(a.get("deletionVector") for a in adds.values())


def test_merge_treats_dv_deleted_keys_as_inserts(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=1)
    D.delete_from_delta(spark, path, "id = 7", mode="merge-on-read")
    src = spark.createDataFrame(
        [(7, 7, 777), (5, 5, 555)], "id long, grp long, val long"
    )
    res = D.merge_delta(spark, path, src, key="id")
    # id=7 was deleted merge-on-read → it is an INSERT now, not an update
    assert res["updated"] == 1 and res["inserted"] == 1
    got = D.read_delta(spark, path)
    assert got.count() == 100  # 99 survivors + re-inserted 7
    assert {r["val"] for r in got.filter("id IN (5, 7)").collect()} == {555, 777}


def test_optimize_purges_dvs(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.delete_from_delta(spark, path, "id % 3 = 0", mode="merge-on-read")
    exp = spark.range(0, 10_000).filter("id % 3 != 0").count()
    D.optimize_delta(spark, path, target_partitions=2)
    _, _, adds = D._read_log(path)
    assert not any(a.get("deletionVector") for a in adds.values())
    assert D.read_delta(spark, path).count() == exp
    # purge moved no logical rows: the change feed skips the OPTIMIZE commit
    latest, _, _ = D._read_log(path)
    assert D.read_delta_changes(spark, path, latest - 1, latest).count() == 0


def test_binpack_rewrites_dv_files_regardless_of_size(spark, tmpdir):
    """Bin-packing is also the PURGE path: a big file with a DV qualifies
    for rewrite even though it exceeds the small-file threshold."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=10_000, files=1)
    D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    D.optimize_delta(spark, path, small_file_threshold=16)  # nothing is "small"
    _, _, adds = D._read_log(path)
    assert not any(a.get("deletionVector") for a in adds.values())
    assert D.read_delta(spark, path).count() == 5000


def test_vacuum_keeps_referenced_dv_and_reaps_orphans(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=4000, files=1)
    D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    assert len(_dv_bins(path)) == 1
    # referenced: vacuum must keep it
    assert not any(
        d.startswith("deletion_vector_") for d in D.vacuum_delta(path)
    )
    assert len(_dv_bins(path)) == 1
    D.optimize_delta(spark, path)  # purge → bin orphaned
    deleted = D.vacuum_delta(path)
    assert any(d.startswith("deletion_vector_") for d in deleted)
    assert not _dv_bins(path)
    assert D.read_delta(spark, path).count() == 2000


def test_change_feed_of_dv_commit_is_exact_deletes(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    v0, _, _ = D._read_log(path)
    D.delete_from_delta(spark, path, "id % 7 = 0", mode="merge-on-read")
    ch = D.read_delta_changes(spark, path, v0)
    agg = {r["_change_type"]: r["count"] for r in ch.groupBy("_change_type").count().collect()}
    assert agg == {"delete": 1429}
    assert ch.filter("id % 7 != 0").count() == 0
    # second DV on the same files diffs to only the NEWLY deleted rows
    v1, _, _ = D._read_log(path)
    D.delete_from_delta(spark, path, "id % 5 = 0", mode="merge-on-read")
    ch2 = D.read_delta_changes(spark, path, v1)
    newly = spark.range(0, 10_000).filter("id % 5 = 0 AND id % 7 != 0").count()
    assert ch2.filter("_change_type = 'delete'").count() == newly
    assert ch2.filter("_change_type = 'insert'").count() == 0


def test_append_feed_refuses_dv_on_preexisting_file(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=1)
    v0, _, _ = D._read_log(path)
    D.delete_from_delta(spark, path, "id = 1", mode="merge-on-read")
    with pytest.raises(ConcurrentModificationError, match="deletion vectors"):
        D.read_delta_appends(spark, path, v0)


def test_append_feed_allows_dv_on_in_window_file(spark, tmpdir):
    """A DV landing on a file ADDED inside the window only cancels rows the
    window itself added — the net rows are still a pure append."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=1)
    v0, _, _ = D._read_log(path)
    D.write_delta(
        spark.range(1000, 1100).select(
            "id", (F.col("id") % 10).alias("grp"), (F.col("id") * 2).alias("val")
        ),
        path,
        append=True,
    )
    D.delete_from_delta(spark, path, "id = 1005", mode="merge-on-read")
    got = D.read_delta_appends(spark, path, v0)
    assert got.count() == 99
    assert got.filter("id = 1005").count() == 0


def test_checkpoint_roundtrips_dv_and_features(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=1000, files=1)
    D.delete_from_delta(spark, path, "id % 4 = 0", mode="merge-on-read")
    v = D.write_checkpoint(path)
    # force replay THROUGH the checkpoint: JSON state and checkpoint state
    # must agree on descriptor and protocol
    _, _, adds_json = D._read_log(path)
    _, adds_ckpt, _, _ = D._load_checkpoint(path, v)
    (aj,) = adds_json.values()
    ac = adds_ckpt[aj["path"]]
    assert ac["deletionVector"] == aj["deletionVector"]
    proto = D.table_protocol(path)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    assert D.read_delta(spark, path).count() == 750


def test_foreign_reader_features_refused(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=10, files=1)
    latest, _, _ = D._read_log(path)
    D._commit(
        path,
        latest + 1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "typeWidening"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        ],
    )
    with pytest.raises(D.UnsupportedProtocolError, match="typeWidening"):
        D.read_delta(spark, path)


def test_append_only_table_refuses_dml(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=10, files=1)
    latest, meta, _ = D._read_log(path)
    meta = dict(meta)
    meta["configuration"] = {"delta.appendOnly": "true"}
    D._commit(path, latest + 1, [{"metaData": meta}])
    with pytest.raises(ValueError, match="appendOnly"):
        D.delete_from_delta(spark, path, "id = 1", mode="merge-on-read")
    with pytest.raises(ValueError, match="appendOnly"):
        D.delete_from_delta(spark, path, "id = 1")
    with pytest.raises(ValueError, match="appendOnly"):
        D.update_delta(spark, path, "id = 1", {"val": "0"})


def test_lost_race_cleans_up_staged_dv_file(spark, tmpdir, monkeypatch):
    """A MOR delete that loses its commit race must not litter the table
    with an orphaned DV file (same hygiene as the COW/Iceberg lost-commit
    handlers)."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    real_commit = D._commit
    state = {"injected": False}

    def racing_commit(p, version, actions):
        if not state["injected"]:
            state["injected"] = True
            # a concurrent writer removes one of the files our delete
            # re-adds, then takes our version slot
            _, _, adds = D._read_log(p)
            victim = sorted(adds)[0]
            real_commit(
                p,
                version,
                [{"remove": {"path": victim, "deletionTimestamp": 0, "dataChange": True}}],
            )
        return real_commit(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing_commit)
    with pytest.raises(ConcurrentModificationError):
        D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    assert not _dv_bins(path)  # staged bitmap reclaimed


def test_optimize_conflicts_with_concurrent_dv_delete(spark, tmpdir, monkeypatch):
    """OPTIMIZE must abort when a merge-on-read delete lands a new DV on
    one of its inputs mid-flight — committing its pre-DV copies would
    resurrect the freshly deleted rows."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    real_commit = D._commit
    state = {"injected": False}

    def racing_commit(p, version, actions):
        if not state["injected"] and any("add" in a and a["add"].get("dataChange") is False for a in actions):
            state["injected"] = True
            monkeypatch.setattr(D, "_commit", real_commit)
            D.delete_from_delta(spark, p, "id % 2 = 0", mode="merge-on-read")
            monkeypatch.setattr(D, "_commit", racing_commit)
            raise FileExistsError(version)  # our slot was taken
        return real_commit(p, version, actions)

    monkeypatch.setattr(D, "_commit", racing_commit)
    with pytest.raises(ConcurrentModificationError, match="deletion vector"):
        D.optimize_delta(spark, path, target_partitions=1)
    # the delete's rows stayed deleted
    assert D.read_delta(spark, path).count() == 5000


def test_scan_planner_applies_dv(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    df = spark.range(0, 1000).select("id", (F.col("id") % 10).alias("grp"))
    D.write_delta(df.repartitionByRange(4, "id"), path)
    D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    got, plan = D.scan_delta_with_plan(spark, path, [("id", "<", 500)])
    assert plan["excluded_by_stats"] >= 1  # pruning still active
    assert got.count() == 250  # odd ids below 500
    pruned = D.read_delta_pruned(spark, path, "id", 0, 499)
    assert pruned.filter("id % 2 = 0").count() == 0


def test_restore_to_pre_dv_version(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=1000, files=1)
    pre, _, _ = D._read_log(path)
    D.delete_from_delta(spark, path, "id < 100", mode="merge-on-read")
    D.restore_delta(spark, path, pre)
    assert D.read_delta(spark, path).count() == 1000
    _, _, adds = D._read_log(path)
    assert not any(a.get("deletionVector") for a in adds.values())


# -- merge-on-read UPDATE / MERGE -------------------------------------------


def test_mor_update_masks_and_appends(spark, tmpdir):
    """UPDATE merge-on-read: no candidate file rewritten — matched rows are
    DV-masked and their updated copies appended as new files."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    before = set(_parquets(path))
    res = D.update_delta(
        spark, path, "grp = 4", {"val": "val + 1"}, mode="merge-on-read"
    )
    assert res["updated_rows"] == 1000 and res["new_files"] >= 1
    assert before <= set(_parquets(path))  # originals untouched
    got = D.read_delta(spark, path)
    assert got.count() == 10_000
    assert got.filter("grp = 4 AND val != id * 2 + 1").count() == 0
    assert got.filter("grp != 4 AND val != id * 2").count() == 0


def test_mor_update_nothing_matched_commits_nothing(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=1)
    v0, _, _ = D._read_log(path)
    res = D.update_delta(
        spark, path, "id = -1", {"val": "0"}, mode="merge-on-read"
    )
    assert res == {"updated_rows": 0, "dv_files": 0, "removed_files": 0, "new_files": 0}
    v1, _, _ = D._read_log(path)
    assert v1 == v0  # no commit, no litter


def test_mor_merge_masks_matches_appends_source(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=2)
    src = spark.createDataFrame(
        [(7, 7, 777), (500, 0, 500)], "id long, grp long, val long"
    )
    res = D.merge_delta(spark, path, src, key="id", mode="merge-on-read")
    assert res["updated"] == 1 and res["inserted"] == 1
    assert res["dv_files"] == 1  # id=7 lives in one of the two files
    got = D.read_delta(spark, path)
    assert got.count() == 101
    assert {r["val"] for r in got.filter("id IN (7, 500)").collect()} == {777, 500}
    # updated row exists exactly once (mask worked)
    assert got.filter("id = 7").count() == 1


def test_mor_merge_then_optimize_purges(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=1000, files=2)
    src = spark.range(0, 100).select(
        "id", (F.col("id") % 10).alias("grp"), F.lit(-1).alias("val")
    )
    D.merge_delta(spark, path, src, key="id", mode="merge-on-read")
    assert D.read_delta(spark, path).filter("val = -1").count() == 100
    D.optimize_delta(spark, path, target_partitions=1)
    _, _, adds = D._read_log(path)
    assert not any(a.get("deletionVector") for a in adds.values())
    got = D.read_delta(spark, path)
    assert got.count() == 1000 and got.filter("val = -1").count() == 100


# -- round-8 hardening: protocol merge, run-wrap, staging leak, read path ---


def test_run_container_ending_at_65535_decodes_fully():
    """A foreign writer's run container whose last run ends at value 65535
    must decode completely: numpy uint16 arithmetic would wrap s+ln+1 to 0
    under NEP 50 and silently drop the run (the exact silent-undelete this
    module promises to fail loudly on)."""
    import struct

    # rb32: run cookie, 1 container, run flag set, key 0, card 6,
    # no offset header (n<4), 1 run: start=65530 len=5 -> 65530..65535
    rb = struct.pack("<HH", DV._SERIAL_COOKIE_RUN, 0)  # n_containers-1 = 0
    rb += bytes([0b1])  # run flag byte
    rb += struct.pack("<HH", 0, 5)  # key=0, cardinality-1=5
    rb += struct.pack("<H", 1)  # n_runs
    rb += struct.pack("<HH", 65530, 5)  # start, length
    blob = struct.pack("<iq", DV.DV_MAGIC, 1) + struct.pack("<i", 0) + rb
    got = DV.deserialize_positions(blob)
    assert got.tolist() == [65530, 65531, 65532, 65533, 65534, 65535]


def test_add_constraint_after_dv_does_not_downgrade_protocol(spark, tmpdir):
    """add_check_constraint on a table-features table (reader 3/writer 7
    after a MOR delete) must MERGE checkConstraints into the feature lists,
    not stamp legacy {1,3} over them — that downgrade would strip the
    deletionVectors reader gate while live adds still carry DVs."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.delete_from_delta(spark, path, "id = 5", mode="merge-on-read")
    D.add_check_constraint(path, "val_nonneg", "val >= 0")
    proto = D.table_protocol(path)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    assert "checkConstraints" in proto["writerFeatures"]
    # still readable + constraint active
    assert D.read_delta(spark, path).count() == 9_999
    bad = spark.range(1, 2).select(
        "id", (F.col("id") % 10).alias("grp"), F.lit(-5).cast("long").alias("val")
    )
    with pytest.raises(D.ConstraintViolationError):
        D.write_delta(bad, path, append=True)


def test_constraint_then_dv_already_satisfied_emits_no_second_protocol(
    spark, tmpdir
):
    """Once 3/7 with checkConstraints merged, adding another constraint
    emits NO protocol action (already satisfied)."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.delete_from_delta(spark, path, "id = 5", mode="merge-on-read")
    D.add_check_constraint(path, "c1", "val >= 0")
    before = D.table_protocol(path)
    D.add_check_constraint(path, "c2", "grp >= 0")
    assert D.table_protocol(path) == before
    latest, _, _ = D._read_log(path)
    lines = [json.loads(x) for x in open(D._version_file(path, latest))]
    assert not any("protocol" in a for a in lines)


def test_dv_upgrade_from_legacy_writer_keeps_implied_features(spark, tmpdir):
    """Upgrading a legacy minWriter-3 table (implies appendOnly, invariants,
    checkConstraints) to table features must list ALL implied features —
    dropping 'invariants' would make feature-aware external writers stop
    enforcing invariants recorded in the schema."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path)
    D.add_check_constraint(path, "val_nonneg", "val >= 0")
    assert D.table_protocol(path) == {"minReaderVersion": 1, "minWriterVersion": 3}
    D.delete_from_delta(spark, path, "id = 5", mode="merge-on-read")
    proto = D.table_protocol(path)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    for feat in ("appendOnly", "invariants", "checkConstraints", "deletionVectors"):
        assert feat in proto["writerFeatures"], feat


def test_column_invariants_enforced_on_write(spark, tmpdir):
    """delta.invariants field metadata (the legacy writer-v2 feature this
    engine claims in SUPPORTED_WRITER_FEATURES) is enforced on append."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=10, files=1)
    # plant an invariant in the schemaString the way delta-spark stores it
    latest, meta, _ = D._read_log(path)
    schema = json.loads(meta["schemaString"])
    for f in schema["fields"]:
        if f["name"] == "val":
            f["metadata"] = {
                "delta.invariants": json.dumps(
                    {"expression": {"expression": "val < 1000"}}
                )
            }
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema)
    D._commit(
        path,
        latest + 1,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": new_meta},
        ],
    )
    def row(i, v):
        return spark.range(i, i + 1).select(
            "id", (F.col("id") % 10).alias("grp"), F.lit(v).cast("long").alias("val")
        )

    D.write_delta(row(100, 500), path, append=True)
    with pytest.raises(D.ConstraintViolationError, match="invariant_val"):
        D.write_delta(row(101, 5000), path, append=True)


def test_vacuum_reaps_orphaned_dv_staging_tmp(spark, tmpdir):
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=1)
    D.delete_from_delta(spark, path, "id = 1", mode="merge-on-read")
    orphan = os.path.join(
        path, ".deletion_vector_deadbeef.bin.deadbeef.tmp"
    )
    with open(orphan, "wb") as fh:
        fh.write(b"\x01junk")
    old = os.path.getmtime(orphan) - 3600
    os.utime(orphan, (old, old))
    fresh = os.path.join(path, ".deletion_vector_cafebabe.bin.cafebabe.tmp")
    with open(fresh, "wb") as fh:
        fh.write(b"\x01junk")
    D.vacuum_delta(path)
    assert not os.path.exists(orphan)  # aged orphan reaped
    assert os.path.exists(fresh)  # in-flight staging respected
    assert D.read_delta(spark, path).count() == 99


def test_dv_read_expands_positions_executor_side(spark, tmpdir):
    """The scan path never builds a row per deleted position on the
    driver: _scan_adds ships one row per touched 32,768-position bucket
    and the JVM expands it, with no Python worker.  Pinned structurally
    (the driver's frame size, no Python node in the plan) and behaviorally
    with a multi-million-position DV."""
    path = os.path.join(tmpdir, "t")
    n = 3_000_000
    D.write_delta(spark.range(0, n).select("id"), path)
    D.delete_from_delta(spark, path, "id % 2 = 0", mode="merge-on-read")
    _, _, adds = D._read_log(path)
    dv_adds = {p: a for p, a in adds.items() if a.get("deletionVector")}
    assert sum(a["deletionVector"]["cardinality"] for a in dv_adds.values()) == n // 2
    frame, _ = D._dv_positions_frame(spark, path, dv_adds)
    # every other row of each file is deleted: each of its buckets is touched
    buckets = sum(
        -(-json.loads(a["stats"])["numRecords"] // DV.BUCKET) for a in dv_adds.values()
    )
    assert local_relation_rows(frame) == buckets
    got = D.read_delta(spark, path)
    assert python_nodes(formatted_plan(got)) == []
    assert got.count() == n // 2
    assert got.agg(F.min("id")).first()[0] == 1


def test_version_checksum_written_and_validates(spark, tmpdir):
    """Every commit leaves a <version>.crc sidecar (the protocol's version
    checksum); validation passes on an intact log and fails loudly when
    the recorded state diverges from replay."""
    path = os.path.join(tmpdir, "t")
    _table(spark, path, n=100, files=2)
    D.delete_from_delta(spark, path, "id < 10", mode="merge-on-read")
    latest, _, adds = D._read_log(path)
    crc_file = os.path.join(path, "_delta_log", f"{latest:020d}.crc")
    assert os.path.exists(crc_file)
    rec = D.validate_table_checksum(path)
    assert rec["validated"] and rec["numFiles"] == len(adds)
    # tamper: claim a different file count -> loud mismatch
    with open(crc_file) as fh:
        crc = json.load(fh)
    crc["numFiles"] += 1
    with open(crc_file, "w") as fh:
        json.dump(crc, fh)
    with pytest.raises(RuntimeError, match="checksum mismatch"):
        D.validate_table_checksum(path)
