"""Shared merge-key validation for the lakehouse MERGE primitives.

``merge_delta`` and ``merge_iceberg`` share one key contract
(merge_postgres_wire's): one column or a composite list, no duplicate
source keys, and no NULL in any key component — single-column included
(``count_distinct`` drops null-containing tuples, so the duplicate check
cannot see them, and the equality joins cannot address them anyway: a
NULL-keyed upsert could only ever INSERT, never update its prior
NULL-keyed row — a silent append-on-replay hazard; r14 verdict item 3).
Extracted here so the two formats' contracts cannot silently diverge.

Both MERGEs also share their shape: the one validation aggregate measures
the source (tombstone count, first key column's range), ``probe_matches``
finds the files to rewrite and the matched key counts in one query, and
the rewrite reads only those files.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MergeKeys(NamedTuple):
    """What the one source aggregate of ``validate_merge_keys`` proves and
    measures: the normalized key columns, the number of source keys (all
    rows: upserts and tombstones), the number of tombstone keys, and the
    [lo, hi] range of the first key column over all rows (None when the
    source is empty)."""

    cols: list[str]
    n_keys: int
    n_tombstones: int
    lo: Any
    hi: Any


def tombstone_flag(delete_col: str | None):
    """The tombstone predicate of a merge source: the ``delete_col`` flag
    with NULL coalesced to false (merge_postgres_wire contract), or a
    constant false when the source carries no flag."""
    if delete_col is None:
        return F.lit(False)
    return F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))


def validate_merge_keys(
    source: DataFrame,
    key,
    delete_col: str | None = None,
    micros: bool = False,
) -> MergeKeys:
    """Normalize ``key`` (str | list[str]) and enforce the merge-source
    key contract in ONE aggregate pass, which also measures what the
    merge plans with: the tombstone count (keys are proven unique, so it
    equals the number of distinct tombstone keys) and the first key
    column's [min, max] over every row — tombstones pull their target
    files into the rewrite set too.  ``micros`` takes the bounds as
    ``unix_micros`` (UTC microseconds) for timestamp keys, a form that
    compares against file bounds independent of the driver's time zone.

    A key carrying both an upsert and a tombstone in one batch is
    arrival-order-dependent and refuses as a duplicate.

    Raises ValueError on: empty/duplicated key column names, NULL in any
    key component (single-column included — the equality join can never
    match a NULL key, so such a row would silently insert-only on every
    replay; merge_postgres_wire and the CDC tail refuse the same way),
    or duplicate source key values."""
    key_cols = [key] if isinstance(key, str) else list(key)
    if not key_cols or len(set(key_cols)) != len(key_cols):
        raise ValueError(
            f"merge key columns must be non-empty and distinct, got {key_cols!r}"
        )
    any_null = None
    for c in key_cols:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    first = F.unix_micros(F.col(key_cols[0])) if micros else F.col(key_cols[0])
    kc = source.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("k"),
        F.max(any_null).alias("has_null"),
        F.sum(tombstone_flag(delete_col).cast("long")).alias("n_del"),
        F.min(first).alias("lo"),
        F.max(first).alias("hi"),
    ).first()
    if kc["has_null"]:
        raise ValueError(
            f"merge source has NULL in key column(s) {key_cols!r}; a "
            "keyed merge cannot address such rows (the equality join "
            "never matches NULL, so they would insert-only on every "
            "replay) — filter them out or choose a non-null key"
        )
    n_source_keys = int(kc["k"])
    if kc["n"] != n_source_keys:
        raise ValueError(
            f"merge source has duplicate values in key column(s) {key_cols!r}; "
            "deduplicate before merging (same contract as Delta MERGE)"
        )
    return MergeKeys(
        key_cols, n_source_keys, int(kc["n_del"] or 0), kc["lo"], kc["hi"]
    )


def probe_matches(
    scan: DataFrame, key_frame: DataFrame, key_cols: list[str]
) -> tuple[set[str], int, int]:
    """The match probe both MERGEs share, in ONE query: join a positioned
    scan (key columns + ``__path``) with the source key frame (key columns
    + a boolean ``__del`` tombstone flag) and return the set of files
    holding a matching live row, the number of matched upsert keys and the
    number of matched tombstone keys.

    Both counts are of distinct KEYS, not rows: a key present in several
    table rows (or files) updates them all but is one update.  Each
    matched key collects its file set; the driver receives one row per
    distinct (file set, flag) pair with its key count — two per touched
    file when no key repeats across files, never one per key."""
    per_key = (
        scan.select(*key_cols, "__path")
        .join(key_frame, key_cols, "inner")
        .groupBy(*key_cols, "__del")
        .agg(F.collect_set("__path").alias("__paths"))
    )
    files: set[str] = set()
    n_ups = n_del = 0
    for r in per_key.groupBy("__paths", "__del").count().collect():
        files.update(r["__paths"])
        if r["__del"]:
            n_del += r["count"]
        else:
            n_ups += r["count"]
    return files, n_ups, n_del


# lossless upcasts a merge source may take implicitly (the widen-only
# direction sinks/alignment.py also allows): integer chain + float→double
_WIDEN_CHAINS = (
    ["byte", "short", "integer", "long"],
    ["float", "double"],
)


def _safely_widens(src_type, dst_type) -> bool:
    s, d = src_type.typeName(), dst_type.typeName()
    return any(
        s in chain and d in chain and chain.index(s) < chain.index(d)
        for chain in _WIDEN_CHAINS
    )


def _nullability_erased(dt):
    """The type with every NESTED nullability flag normalized (array
    containsNull, map valueContainsNull, struct field nullability) — the
    comparison basis for retype detection.  Nullability differences are
    not retypes: physical encodings are identical and readers null-fill,
    so e.g. an Iceberg-sourced window whose array elements are required
    must still merge into a containsNull=true table column."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullability_erased(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullability_erased(dt.keyType), _nullability_erased(dt.valueType), True
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullability_erased(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def align_merge_source_types(source: DataFrame, schema) -> DataFrame:
    """Align a merge source's column TYPES to the table's: identical types
    pass through, losslessly WIDENABLE ones (int→long, float→double) are
    cast up, anything else refuses.

    The column-set check alone would admit a retyped column (same name,
    new type): with candidate files the union fails loudly mid-plan, but
    an insert-only merge would write data files whose physical type
    conflicts with the table schema — a LATE failure surfacing only when
    a reader hits the new file.  Nullability is not compared (readers
    null-fill; the window reducers legitimately relax it).  Non-table
    columns (the tombstone flag) pass through untouched."""
    from pyspark.sql import functions as F

    want = {f.name: f.dataType for f in schema.fields}
    out, changed = [], False
    for f in source.schema.fields:
        dst = want.get(f.name)
        if dst is None or _nullability_erased(f.dataType) == _nullability_erased(dst):
            out.append(F.col(f.name))
            continue
        if _safely_widens(f.dataType, dst):
            out.append(F.col(f.name).cast(dst).alias(f.name))
            changed = True
            continue
        raise ValueError(
            f"merge source column {f.name!r} has type "
            f"{f.dataType.simpleString()} but the table expects "
            f"{dst.simpleString()}; cast before merging "
            "(merges widen losslessly, never retype columns)"
        )
    return source.select(*out) if changed else source
