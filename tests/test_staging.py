"""The session-staging primitive (queries/staging.py:stage): one registry
per session, a fresh path per build, rebuild on vanish, no trace of a
failed build, and every staged dir reaped at interpreter exit — never
earlier, so a held frame keeps its files."""

from __future__ import annotations

import os

import pytest

from lakehouse_loader_spark.queries import staging as ST


def _write_range(spark, n):
    return lambda path: spark.range(n).write.parquet(path)


def test_held_staged_frame_survives_other_stages_and_scratch_churn(spark):
    from lakehouse_loader_spark.operators import (
        SCRATCH_KEEP_GENERATIONS,
        materialize_shared,
    )

    held = spark.read.parquet(ST.stage(spark, ("t_held",), _write_range(spark, 5)))
    for i in range(3):
        ST.stage(spark, ("t_other", i), _write_range(spark, 3))
    small = spark.range(4)
    for _ in range(SCRATCH_KEEP_GENERATIONS + 3):
        materialize_shared(small, "t-churn").count()
    assert sorted(r.id for r in held.collect()) == [0, 1, 2, 3, 4]


def test_exit_hook_removes_every_staged_dir(spark, monkeypatch):
    # a private list, so the hook reaps only this test's dirs
    monkeypatch.setattr(ST, "_STAGED", [])
    iso = spark.newSession()
    paths = [ST.stage(iso, ("t_exit", i), _write_range(iso, 2)) for i in range(3)]
    assert all(os.path.isdir(p) for p in paths)
    ST._reap_staged()
    assert not any(os.path.exists(p) for p in paths)
    # a reaped local dir is rebuilt on next use
    again = ST.stage(iso, ("t_exit", 0), _write_range(iso, 2))
    assert again != paths[0] and iso.read.parquet(again).count() == 2


def test_failed_build_leaves_no_entry_and_no_dir(spark, tmp_path):
    root = str(tmp_path / "scratch")
    os.makedirs(root)
    iso = spark.newSession()
    iso.conf.set("spark.lakehouse.scratch.dir", root)

    def build(path):
        spark.range(3).write.parquet(path)  # a partial artifact, then a crash
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        ST.stage(iso, ("t_fail",), build)
    assert ("t_fail",) not in ST._registry(iso)
    assert os.listdir(root) == []
    # the next call builds afresh
    path = ST.stage(iso, ("t_fail",), _write_range(iso, 3))
    assert os.path.dirname(path) == root and iso.read.parquet(path).count() == 3


def test_memo_computes_once_per_key(spark):
    iso = spark.newSession()
    calls = []

    def fn():
        calls.append(1)
        return 42

    assert ST.memo(iso, ("t_memo", "a"), fn) == 42
    assert ST.memo(iso, ("t_memo", "a"), fn) == 42
    assert ST.memo(iso, ("t_memo", "b"), fn) == 42
    assert len(calls) == 2
    assert ST.memo(spark.newSession(), ("t_memo", "a"), fn) == 42
    assert len(calls) == 3


def test_pipeline_query_stages_its_table_once_per_session(spark):
    from lakehouse_loader_spark.queries.pipeline import delta_change_feed
    from lakehouse_loader_spark.sinks import delta as DL
    from tests.conftest import SF_SMOKE

    iso = spark.newSession()
    first = delta_change_feed(iso, SF_SMOKE).collect()
    path = ST._registry(iso)[("delta_change_feed", SF_SMOKE)]
    versions = DL._read_log(path)[0]
    second = delta_change_feed(iso, SF_SMOKE).collect()
    assert ST._registry(iso)[("delta_change_feed", SF_SMOKE)] == path
    # the build's append and DELETE ran once: no new commits on the table
    assert DL._read_log(path)[0] == versions
    assert sorted(first) == sorted(second) and len(first) > 0
