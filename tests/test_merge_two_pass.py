"""Two-pass row-level MERGE and UPDATE on both formats.

Both MERGEs measure the source in one aggregate (sinks/keys.py
``validate_merge_keys``), find the files to rewrite and the matched key
counts in one probe query (``probe_matches``), and rewrite only those
files.  Deletion-vector reads expand the driver's per-bucket rows in the
JVM, with no exchange and no Python worker.  This file pins:

- exactness of both MERGEs against a literal upsert on random targets
  (several files, keys repeated across files, live DVs, single and
  composite keys, sources mixing matched, unmatched and tombstone keys);
- that a Delta MERGE rewrites only files holding a matching live row;
- DV expansion placement (one driver row per touched bucket, no Exchange,
  no Python node);
- the Spark job count of each DML operation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st
from pyspark.sql import functions as F

from lakehouse_loader_spark.sinks import delta as D
from lakehouse_loader_spark.sinks import iceberg as IC

from _plans import formatted_plan, local_relation_rows, python_nodes

SCHEMA = "k1 long, k2 long, v long, rid long"
SRC_SCHEMA = SCHEMA + ", is_del boolean"


def _write_chunks(spark, fmt, path, chunks):
    """One data file per chunk: each chunk is its own one-partition append."""
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
        write = D.write_delta if fmt.startswith("delta") else IC.write_iceberg
        write(df, path, append=i > 0)


def _read_rows(spark, fmt, path):
    read = D.read_delta if fmt.startswith("delta") else IC.read_iceberg
    return sorted(tuple(r) for r in read(spark, path).select("k1", "k2", "v", "rid").collect())


_chunk = st.lists(st.tuples(st.integers(0, 5), st.integers(0, 2)), min_size=1, max_size=6)


@pytest.mark.parametrize("fmt", ["delta", "delta-mor", "iceberg"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    chunks=st.lists(_chunk, min_size=2, max_size=4),
    composite=st.booleans(),
    dv=st.tuples(st.integers(2, 4), st.integers(0, 3)),
    src=st.dictionaries(
        st.tuples(st.integers(0, 8), st.integers(0, 2)), st.booleans(),
        min_size=1, max_size=8,
    ),
)
def test_merge_matches_literal_upsert(spark, fmt, chunks, composite, dv, src):
    """Each MERGE's reported counts and its final rows equal a literal
    upsert over the live (post-DV) rows; a copy-on-write MERGE rewrites
    exactly the files holding a matched live row — plus, on Iceberg, every
    file a DV targets (the new snapshot drops its delete manifests)."""
    m, r = dv
    rows, rid = [], 0
    for c, chunk in enumerate(chunks):
        for k1, k2 in chunk:
            rows.append((k1, k2, (rid * 7) % 11, rid, c))
            rid += 1
    dead = {row[3] for row in rows if row[3] % m == r % m}
    # a file whose every row is deleted drops out of the table; keep
    # every file live so the expected rewrite set stays well defined
    assume(all(any(row[3] not in dead for row in rows if row[4] == c)
               for c in range(len(chunks))))
    keyf = (lambda t: (t[0], t[1])) if composite else (lambda t: (t[0],))
    source, seen = [], set()
    for i, ((k1, k2), is_del) in enumerate(sorted(src.items())):
        if keyf((k1, k2)) in seen:
            continue  # single-column key: one source row per k1
        seen.add(keyf((k1, k2)))
        source.append((k1, k2, 1000 + i, 10_000 + i, is_del))
    src_del = {keyf(s): s[4] for s in source}

    live = [row for row in rows if row[3] not in dead]
    live_keys = {keyf(row) for row in live}
    updated = sum(1 for k, d in src_del.items() if not d and k in live_keys)
    deleted = sum(1 for k, d in src_del.items() if d and k in live_keys)
    inserted = sum(1 for d in src_del.values() if not d) - updated
    want_rows = sorted(
        [row[:4] for row in live if keyf(row) not in src_del]
        + [s[:4] for s in source if not s[4]]
    )
    matched_files = {row[4] for row in live if keyf(row) in src_del}
    dv_files = {row[4] for row in rows if row[3] in dead}

    base = tempfile.mkdtemp(prefix="merge_two_pass_")
    try:
        path = os.path.join(base, "t")
        _write_chunks(spark, fmt, path, [[row[:4] for row in rows if row[4] == c]
                                         for c in range(len(chunks))])
        pred = f"rid % {m} = {r % m}"
        if fmt == "iceberg":
            IC.delete_from_iceberg(spark, path, pred, strategy="merge-on-read-dv")
        else:
            D.delete_from_delta(spark, path, pred, mode="merge-on-read")
        sdf = spark.createDataFrame(source, SRC_SCHEMA)
        key = ["k1", "k2"] if composite else "k1"
        if fmt == "iceberg":
            res = IC.merge_iceberg(spark, path, sdf, key, delete_col="is_del")
            rewritten = len(matched_files | dv_files)
        else:
            mode = "merge-on-read" if fmt == "delta-mor" else "copy-on-write"
            res = D.merge_delta(spark, path, sdf, key, mode=mode, delete_col="is_del")
            rewritten = len(matched_files)
        assert {k: res[k] for k in ("updated", "inserted", "deleted")} == {
            "updated": updated, "inserted": inserted, "deleted": deleted,
        }
        if fmt != "delta-mor":
            assert res["rewritten_files"] == rewritten
        assert _read_rows(spark, fmt, path) == want_rows
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_delta_merge_skips_files_whose_range_holds_no_match(spark, tmpdir):
    """A source key inside a file's stats range that matches no row in it
    rewrites nothing: the probe, not the stats, decides the rewrite set."""
    path = os.path.join(tmpdir, "t")
    evens = spark.range(0, 100).select((F.col("id") * 2).alias("id"), F.lit(0).alias("v"))
    D.write_delta(evens.coalesce(1), path, max_rows_per_file=50)  # [0,98], [100,198]
    log_before = D._read_log(path)[2]
    src = spark.createDataFrame([(51, 7), (120, 8)], "id long, v int")
    res = D.merge_delta(spark, path, src, key="id")
    assert res == {"rewritten_files": 1, "updated": 1, "inserted": 1}
    adds = D._read_log(path)[2]
    # the [0,98] file holds 51 in its range but no row 51: still live
    assert len(set(log_before) & set(adds)) == 1
    got = {r.id: r.v for r in D.read_delta(spark, path).filter("id in (50, 51, 52, 120)").collect()}
    assert got == {50: 0, 51: 7, 52: 0, 120: 8}


def _dv_table(spark, fmt, path, n):
    """A table of ``n`` data files, each carrying a deletion vector."""
    df = spark.range(0, n * 40, 1, n).select("id", (F.col("id") % 7).alias("v"))
    if fmt == "delta":
        D.write_delta(df, path)
        D.delete_from_delta(spark, path, "id % 10 = 0", mode="merge-on-read")
        adds = D._read_log(path)[2]
        dv_adds = {p: a for p, a in adds.items() if a.get("deletionVector")}
        assert len(dv_adds) == n
        frame, _ = D._dv_positions_frame(spark, path, dv_adds)
        return frame, "__dv_path", {os.path.abspath(os.path.join(path, p)) for p in dv_adds}
    IC.write_iceberg(df, path)
    IC.delete_from_iceberg(spark, path, "id % 10 = 0", strategy="merge-on-read-dv")
    _, meta = IC._read_metadata(path)
    _, dels, _ = IC._split_live_entries(path, meta)
    dv_entries = [d for d in dels if IC._is_dv_entry(d)]
    assert len(dv_entries) == n
    frame = IC._dv_positions_frame(spark, path, dv_entries)
    return frame, "file_path", {d["referenced_data_file"] for d in dv_entries}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_dv_expansion_runs_in_the_jvm(spark, tmpdir, fmt):
    for n in (4, 8):
        frame, path_col, dv_files = _dv_table(spark, fmt, os.path.join(tmpdir, f"{fmt}{n}"), n)
        plan = formatted_plan(frame)
        assert "Exchange" not in plan
        assert python_nodes(plan) == []
        # each 40-row file's DV touches one bucket: one driver row per file
        assert local_relation_rows(frame) == n
        per_file = {
            r[path_col]: r.n for r in frame.groupBy(path_col).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert set(per_file) == dv_files
        assert set(per_file.values()) == {4}  # 4 of 40 rows per file


def _jobs(spark, fn, *args, **kwargs) -> int:
    """Spark jobs ``fn`` runs, counted through its own job group."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_job_budget(spark, tmpdir):
    """Each DML operation runs a fixed, small number of Spark jobs on a
    small table carrying DVs: a MERGE is one source aggregate (3 jobs),
    one probe (4) and one rewrite (2), and each scan of a DV'd table adds
    one job, the broadcast of its positions."""
    base = spark.range(0, 4000, 1, 4).select(
        "id", (F.col("id") % 7).alias("grp"), (F.col("id") * 2).alias("val")
    )
    src = spark.range(0, 200).select(
        F.when(F.col("id") < 100, F.col("id") * 37).otherwise(F.col("id") + 10_000).alias("id"),
        F.lit(99).cast("long").alias("grp"),
        F.col("id").alias("val"),
    )

    def delta_table(name, dvs=True):
        path = os.path.join(tmpdir, name)
        D.write_delta(base, path)
        if dvs:
            D.delete_from_delta(spark, path, "id % 100 = 3", mode="merge-on-read")
        return path

    p = delta_table("upd")
    assert _jobs(spark, D.update_delta, spark, p, "id % 100 = 5", {"val": "val + 1"}) <= 5
    p = delta_table("merge_dv")
    assert _jobs(spark, D.merge_delta, spark, p, src, "id") <= 12
    p = delta_table("merge", dvs=False)
    assert _jobs(spark, D.merge_delta, spark, p, src, "id") <= 9

    ip = os.path.join(tmpdir, "ice")
    IC.write_iceberg(base, ip)
    IC.delete_from_iceberg(spark, ip, "id % 100 = 3", strategy="merge-on-read-dv")
    assert _jobs(spark, IC.merge_iceberg, spark, ip, src, "id") <= 12
    eq = spark.createDataFrame([(k,) for k in range(0, 500, 10)], "id long")
    assert _jobs(spark, IC.equality_delete_iceberg, spark, ip, eq) <= 3


def test_equality_delete_of_no_keys_commits_nothing(spark, tmpdir):
    path = os.path.join(tmpdir, "ice")
    IC.write_iceberg(spark.range(0, 10), path)
    snaps = IC.snapshot_ids(path)
    res = IC.equality_delete_iceberg(spark, path, spark.createDataFrame([], "id long"))
    assert res == {"delete_files": 0, "key_rows": 0}
    assert IC.snapshot_ids(path) == snaps
    assert not [f for f in os.listdir(path) if f.startswith(".staging-")]
