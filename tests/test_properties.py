"""Property-based tests (hypothesis) for the pure engine-level shims — an
upgrade over the reference's example-based unit tests (SURVEY.md §5)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_loader_spark.operators.dedup import MINHASH_PRIME, _hash_params
from lakehouse_loader_spark.sinks.alignment import SchemaAlignmentError, check_schema_aligned
from lakehouse_loader_spark.sinks.modes import WriteMode, WriteModeError, resolve_write_mode

_LEAF_TYPES = [
    T.LongType(),
    T.IntegerType(),
    T.DoubleType(),
    T.StringType(),
    T.BooleanType(),
    T.DateType(),
]

_field = st.tuples(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    st.sampled_from(_LEAF_TYPES),
    st.booleans(),
)


def _schema(fields) -> T.StructType:
    return T.StructType([T.StructField(n, t, nul) for n, t, nul in fields])


@given(st.lists(_field, min_size=1, max_size=6))
def test_alignment_reflexive(fields):
    """Every schema aligns with itself."""
    s = _schema(fields)
    check_schema_aligned(s, s)


@given(st.lists(_field, min_size=1, max_size=6), st.lists(st.text("xyz", min_size=1), min_size=0))
def test_alignment_rename_invariant(fields, _names):
    """Renaming every field never changes alignment (names are ignored)."""
    s = _schema(fields)
    renamed = T.StructType(
        [T.StructField(f"r{i}", f.dataType, f.nullable) for i, f in enumerate(s.fields)]
    )
    check_schema_aligned(renamed, s)


@given(st.lists(_field, min_size=1, max_size=6))
def test_alignment_tightening_nullability_is_ok_widening_is_not(fields):
    s = _schema(fields)
    required = T.StructType([T.StructField(f.name, f.dataType, False) for f in s.fields])
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in s.fields])
    check_schema_aligned(required, nullable)  # required → nullable: widen OK
    try:
        check_schema_aligned(nullable, required)
        assert all(not f.nullable for f in nullable.fields), (
            "nullable → required must raise unless there were no nullable fields"
        )
    except SchemaAlignmentError:
        pass


@given(st.lists(_field, min_size=2, max_size=6))
def test_alignment_field_count_mismatch_raises(fields):
    s = _schema(fields)
    shorter = T.StructType(s.fields[:-1])
    try:
        check_schema_aligned(shorter, s)
        raise AssertionError("expected SchemaAlignmentError")
    except SchemaAlignmentError:
        pass


@given(st.booleans(), st.booleans())
def test_mode_matrix_total(overwrite, append):
    """resolve_write_mode is total except exactly the (True, True) cell."""
    if overwrite and append:
        try:
            resolve_write_mode(overwrite, append)
            raise AssertionError("expected WriteModeError")
        except WriteModeError:
            pass
    else:
        assert isinstance(resolve_write_mode(overwrite, append), WriteMode)


@given(st.integers(min_value=1, max_value=256))
def test_minhash_params_in_field(n):
    """Affine permutation parameters stay inside the prime field and keep
    a != 0 (a degenerate a=0 would map every shingle to b)."""
    for a, b in _hash_params(n):
        assert 1 <= a < MINHASH_PRIME
        assert 0 <= b < MINHASH_PRIME


_I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
# edge values for the pmod into the field: both int64 ends, around 0 and
# around the prime — drawn often, so duplicates within a document are too
_FIELD_EDGES = st.sampled_from(
    [-(2**63), -MINHASH_PRIME, -1, 0, 1, MINHASH_PRIME - 1, MINHASH_PRIME, 2**63 - 1]
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.lists(_I64 | _FIELD_EDGES, min_size=1, max_size=30), min_size=1, max_size=12),
    st.sampled_from([1, 16, 128]),
)
@example([[5], [7, 7, 7], [-3, -3, 2**63 - 1]], 128)
def test_minhash_driver_kernel_matches_udf(spark, docs, num_hashes):
    """The driver signature (``minhash_signature_matrix``: ``np.mod`` then
    the shared kernel) equals the pandas UDF's (JVM ``pmod`` then the same
    kernel) for any 64-bit shingle hashes, negative ones, single-element
    sets and repeats included."""
    import numpy as np

    from lakehouse_loader_spark.operators.dedup import (
        minhash_signature_matrix,
        with_minhash_signature,
    )
    from lakehouse_loader_spark.session import local_frame

    frame = local_frame(
        spark, list(enumerate(docs)), "doc_id bigint, sh_h array<bigint>"
    )
    udf = [
        r.minhash_sig
        for r in with_minhash_signature(frame, num_hashes, shingle_col="sh_h")
        .orderBy("doc_id")
        .collect()
    ]
    driver = minhash_signature_matrix(
        np.array([h for d in docs for h in d], dtype=np.int64),
        np.array([len(d) for d in docs], dtype=np.int64),
        num_hashes,
    )
    assert driver.tolist() == udf


# --- training-pipeline operator properties (round 2) -----------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=40, unique=True)
)
def test_hash_bucket_range_and_determinism(spark, keys):
    """Buckets land in [0, BUCKET_SPACE) and are a pure function of the key."""
    from lakehouse_loader_spark.operators import sampling as SA

    df = spark.createDataFrame([(k,) for k in keys], "k BIGINT")
    got = {r.k: r.b for r in df.select("k", SA.hash_bucket(F.col("k"), "p").alias("b")).collect()}
    again = {r.k: r.b for r in df.select("k", SA.hash_bucket(F.col("k"), "p").alias("b")).collect()}
    assert got == again
    assert all(0 <= b < SA.BUCKET_SPACE for b in got.values())


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=2, max_size=40, unique=True),
    st.lists(st.floats(min_value=0.05, max_value=1.0), min_size=2, max_size=4),
)
def test_split_partitions_exhaustively(spark, keys, raw_w):
    """Every row gets exactly one split label from the declared set, for any
    weight vector (normalized to sum 1)."""
    from lakehouse_loader_spark.operators import sampling as SA

    total = sum(raw_w)
    weights = {f"s{i}": w / total for i, w in enumerate(raw_w)}
    df = spark.createDataFrame([(k,) for k in keys], "k BIGINT")
    rows = SA.with_split(df, "k", weights).collect()
    assert len(rows) == len(keys)
    assert {r.split for r in rows} <= set(weights)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.text(max_size=60), min_size=1, max_size=30))
def test_normalized_text_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) for arbitrary unicode."""
    from lakehouse_loader_spark.operators.text import normalized_text_col

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i BIGINT, t STRING")
    once = df.select("i", normalized_text_col(F.col("t")).alias("n"))
    twice = once.select("i", normalized_text_col(F.col("n")).alias("n2"))
    joined = once.join(twice, "i")
    assert joined.filter(F.col("n") != F.col("n2")).count() == 0


@settings(max_examples=8, deadline=None)
@given(
    # per-flag row count 4k + r with r in {1, 2, 3}: ntile(4) tiles unevenly
    st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from([1, 2, 3])), min_size=1, max_size=3
    ),
    st.integers(min_value=1, max_value=4),  # distinct quantities: heavy ties
    st.randoms(use_true_random=False),
)
def test_window_rank_matches_literal_window_form(spark, flag_sizes, n_qty, rnd):
    """window_rank's histogram/closed-form decomposition returns exactly the
    rows of the literal row_number/rank/dense_rank/ntile(4) windows."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window as W

    from lakehouse_loader_spark.queries.relational import window_rank

    flags, qtys = [], []
    for flag, (k, r) in zip("ANR", flag_sizes):
        for _ in range(4 * k + r):
            flags.append(flag)
            qtys.append(float(rnd.randint(1, n_qty)))
    keys = [(i // 4 + 1, i % 4 + 1) for i in range(len(flags))]
    rnd.shuffle(keys)
    table = pa.table(
        {
            "l_orderkey": pa.array([k for k, _ in keys], pa.int64()),
            "l_linenumber": pa.array([n for _, n in keys], pa.int32()),
            "l_quantity": pa.array(qtys, pa.float64()),
            "l_returnflag": pa.array(flags, pa.string()),
        }
    )
    with tempfile.TemporaryDirectory(prefix="window_rank_") as sf_dir:
        pq.write_table(table, f"{sf_dir}/lineitem.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        w_uniq = W.partitionBy("l_returnflag").orderBy(
            F.col("l_quantity").desc(), "l_orderkey", "l_linenumber"
        )
        w_qty = W.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
        literal = li.select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.row_number().over(w_uniq).cast("bigint").alias("rn"),
            F.rank().over(w_qty).cast("bigint").alias("rnk"),
            F.dense_rank().over(w_qty).cast("bigint").alias("drnk"),
            F.ntile(4).over(w_uniq).cast("bigint").alias("quartile"),
        ).filter("rn <= 20")
        got = window_rank(spark, sf_dir)
        assert got.columns == literal.columns
        assert sorted(got.collect()) == sorted(literal.collect())


# -- merge_schemas (by-name evolution) --------------------------------------

from lakehouse_loader_spark.sinks.alignment import merge_schemas

_named_fields = st.lists(_field, min_size=1, max_size=6, unique_by=lambda f: f[0])


@given(_named_fields)
def test_merge_idempotent(fields):
    """merge(s, s) == s up to nullability widening, and merging the result
    with itself is a fixed point."""
    s = _schema(fields)
    m = merge_schemas(s, s)
    assert [f.name for f in m.fields] == [f.name for f in s.fields]
    assert merge_schemas(m, m).json() == m.json()


@given(_named_fields, _named_fields)
def test_merge_never_drops_and_orders_stably(a_fields, b_fields):
    """The merge keeps every target column (in order) and appends the
    incoming-only ones (in incoming order); types never change."""
    a, b = _schema(a_fields), _schema(b_fields)
    a_types = {f.name: f.dataType for f in a.fields}
    b_types = {f.name: f.dataType for f in b.fields}
    conflict = any(n in a_types and a_types[n] != t for n, t in b_types.items())
    if conflict:
        import pytest as _pytest

        with _pytest.raises(SchemaAlignmentError):
            merge_schemas(a, b)
        return
    m = merge_schemas(a, b)
    names = [f.name for f in m.fields]
    assert names[: len(a.fields)] == [f.name for f in a.fields]
    assert names[len(a.fields):] == [f.name for f in b.fields if f.name not in a_types]
    for f in m.fields:
        assert f.dataType == a_types.get(f.name, b_types.get(f.name))
    # a column absent from the incoming side must be nullable afterwards
    for f in m.fields:
        if f.name not in b_types:
            assert f.nullable


@given(_named_fields, _named_fields)
def test_merge_accepts_any_aligned_append(a_fields, b_fields):
    """Anything appendable onto the merged schema positionally includes the
    incoming frame's own columns laid out by name."""
    a, b = _schema(a_fields), _schema(b_fields)
    a_types = {f.name: f.dataType for f in a.fields}
    if any(n in a_types and a_types[n] != f.dataType for n, f in ((f.name, f) for f in b.fields)):
        return
    m = merge_schemas(a, b)
    by_name = {f.name: f for f in m.fields}
    for f in b.fields:
        assert by_name[f.name].dataType == f.dataType


# -- Iceberg transform hashes ----------------------------------------------

import numpy as np

from lakehouse_loader_spark.sinks.transforms import murmur3_bytes, murmur3_long


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=50))
def test_murmur3_long_vectorized_equals_scalar(vals):
    """The numpy-vectorized long hash equals the scalar byte-wise Murmur3
    over the 8-byte little-endian encoding — the Iceberg spec definition."""
    arr = np.array(vals, dtype=np.int64)
    vec = murmur3_long(arr)
    for v, h in zip(vals, vec):
        b = (v & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
        assert murmur3_bytes(b) == int(h)


@given(st.integers(min_value=-(10**9), max_value=10**9), st.integers(min_value=1, max_value=1000))
def test_truncate_transform_properties(v, w):
    """Iceberg truncate over ints: result <= v, v - result < w, and the
    result is a multiple of w (the positive-mod definition)."""
    r = v - (((v % w) + w) % w)
    assert r <= v and v - r < w and r % w == 0
