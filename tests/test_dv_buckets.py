"""Exactness of the per-bucket form DV positions cross Spark <-> driver in
(sinks/dv.py): ``collect_positions`` (the write half) and
``positions_frame`` (the read half) against the literal codec,
``serialize_positions`` / ``deserialize_positions``, on random position
sets mixing sparse and dense buckets, across the SPARSE_MAX cut-over,
bucket edges and positions past 2^31 and 2^32; plus the DV bytes a delete
writes on each format, a union with an existing DV included."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from lakehouse_loader_spark.session import local_frame
from lakehouse_loader_spark.sinks import delta as D
from lakehouse_loader_spark.sinks import dv as DV
from lakehouse_loader_spark.sinks import iceberg as IC
from lakehouse_loader_spark.sinks import puffin as PF

# bucket 65536 starts at 2^31, bucket 131072 at 2^32
_BUCKETS = st.sampled_from([0, 1, 2, 65535, 65536, 131071, 131072, 131073])
_COUNTS = st.one_of(
    st.integers(0, 4),
    st.sampled_from([DV.SPARSE_MAX - 1, DV.SPARSE_MAX, DV.SPARSE_MAX + 1]),
    st.integers(DV.SPARSE_MAX + 2, DV.BUCKET),
)


@st.composite
def position_sets(draw) -> np.ndarray:
    parts = [np.empty(0, dtype=np.int64)]
    for b in draw(st.lists(_BUCKETS, unique=True, max_size=3)):
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        offs = rng.choice(DV.BUCKET, size=draw(_COUNTS), replace=False)
        if draw(st.booleans()):  # the bucket's first and last position
            offs = np.append(offs, [0, DV.BUCKET - 1])
        parts.append(b * DV.BUCKET + offs.astype(np.int64))
    return np.unique(np.concatenate(parts))


def _frame(spark, sets: dict[str, np.ndarray]):
    paths = [p for p, pos in sets.items() for _ in pos]
    pos = np.concatenate([np.empty(0, np.int64), *sets.values()])
    table = pa.table({"p": pa.array(paths, pa.string()), "pos": pa.array(pos, pa.int64())})
    return local_frame(spark, table, "p string, pos long").repartition(3)


@settings(max_examples=25, deadline=None)
@given(position_sets(), position_sets())
def test_collect_positions_is_exact(spark, a, b):
    got = DV.collect_positions(_frame(spark, {"a": a, "b": b}), "p", "pos")
    want = {p: s for p, s in {"a": a, "b": b}.items() if len(s)}
    assert set(got) == set(want)
    for p, s in want.items():
        assert got[p].dtype == np.int64
        assert DV.serialize_positions(got[p]) == DV.serialize_positions(s)


@settings(max_examples=25, deadline=None)
@given(position_sets(), position_sets())
def test_positions_frame_is_exact(spark, a, b):
    sets = {p: s for p, s in (("a", a), ("b", b)) if len(s)}
    blobs = [(p, DV.serialize_positions(s)) for p, s in sets.items()]
    # one driver row per touched bucket, never one per position
    buckets = sum(len(np.unique(s // DV.BUCKET)) for s in sets.values())
    assert DV.bucket_table(blobs, "p").num_rows == buckets
    got = {}
    for r in DV.positions_frame(spark, blobs, "p", "pos").collect():
        got.setdefault(r.p, []).append(r.pos)
    assert set(got) == {p for p, _ in blobs}
    for p, blob in blobs:
        want = DV.deserialize_positions(blob).astype(np.int64)
        assert np.array_equal(np.sort(np.asarray(got[p], dtype=np.int64)), want)


# ids of a one-file table are its row positions: a sparse bucket 0, a
# dense bucket 1 and the 32767/32768 edge, then a second delete whose DV
# must hold the union
_FIRST = "(id < 32768 AND id % 97 = 0) OR (id BETWEEN 32768 AND 65535 AND id % 3 = 0) OR id IN (32767, 32768, 65535, 65536)"
_SECOND = "id >= 60000 AND id % 5 = 1"
_N = 70_000


def _expected() -> tuple[np.ndarray, np.ndarray]:
    ids = np.arange(_N, dtype=np.int64)
    first = ids[
        ((ids < 32768) & (ids % 97 == 0))
        | ((ids >= 32768) & (ids <= 65535) & (ids % 3 == 0))
        | np.isin(ids, [32767, 32768, 65535, 65536])
    ]
    second = ids[(ids >= 60000) & (ids % 5 == 1)]
    return first, np.union1d(first, second)


def test_delta_dv_bytes_equal_the_literal_codec(spark, tmpdir):
    path = os.path.join(str(tmpdir), "t")
    D.write_delta(spark.range(0, _N, 1, 1), path)
    for pred, want in zip((_FIRST, _SECOND), _expected()):
        D.delete_from_delta(spark, path, pred, mode="merge-on-read")
        (add,) = D._read_log(path)[2].values()
        desc = add["deletionVector"]
        assert DV.load_descriptor_bytes(path, desc) == DV.serialize_positions(want)
        assert desc["cardinality"] == len(want)


def test_iceberg_dv_bytes_equal_the_literal_codec(spark, tmpdir):
    path = os.path.join(str(tmpdir), "t")
    IC.write_iceberg(spark.range(0, _N, 1, 1), path)
    for pred, want in zip((_FIRST, _SECOND), _expected()):
        IC.delete_from_iceberg(spark, path, pred, strategy="merge-on-read-dv")
        _, meta = IC._read_metadata(path)
        (d,) = [d for d in IC._split_live_entries(path, meta)[1] if IC._is_dv_entry(d)]
        blob = PF.read_blob(
            IC._abs_file(path, d["file_path"]),
            int(d["content_offset"]),
            int(d["content_size_in_bytes"]),
        )
        assert blob == DV.serialize_positions(want)
        assert d["record_count"] == len(want)
