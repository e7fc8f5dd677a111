"""Persist a trained IVF ANN index as LAKEHOUSE TABLES — the production
serving shape (FAISS's train-once/search-many with the index stored next
to the data it indexes): the inverted file (n_id, n_vec, cid) as a Delta
or Iceberg table PARTITIONED BY cid, plus a tiny centroids table the
assignment is only valid under.

Why partition on cid: an IVF probe touches ``n_probe / n_centroids`` of
the corpus; with the inverted file laid out one partition per cluster the
lakehouse scan prunes to exactly those clusters' files, preserving the
IVF cost model through the storage layer.  Centroids and inverted file
are written/read as a PAIR (load refuses a mismatched pair by dimension)
because probing against centroids the file was not assigned under
silently degrades recall.

Reference parity note: the reference has no ANN surface; this composes
its two halves — the hand-rolled table formats (iceberg_destination.rs /
delta_destination.rs re-implementations) and the repo's similarity
operators — into the index-as-a-table pattern FAISS deployments use.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from lakehouse_loader_spark.session import local_frame

_INVERTED = "inverted"
_CENTROIDS = "centroids"


def _join(path: str, name: str) -> str:
    if "://" in path:
        return f"{path.rstrip('/')}/{name}"
    import os

    return os.path.join(path, name)


def _writer(fmt: str):
    if fmt == "delta":
        from lakehouse_loader_spark.sinks.delta import write_delta

        return write_delta
    if fmt == "iceberg":
        from lakehouse_loader_spark.sinks.iceberg import write_iceberg

        return write_iceberg
    raise ValueError(f"unknown index table format {fmt!r}")


def _reader(fmt: str):
    if fmt == "delta":
        from lakehouse_loader_spark.sinks.delta import read_delta

        return read_delta
    if fmt == "iceberg":
        from lakehouse_loader_spark.sinks.iceberg import read_iceberg

        return read_iceberg
    raise ValueError(f"unknown index table format {fmt!r}")


def save_ivf_index(
    spark: SparkSession,
    inv: DataFrame,
    centroids: "np.ndarray",
    path: str,
    fmt: str = "delta",
) -> None:
    """Write the (inverted file, centroids) pair under ``path`` as two
    ``fmt`` tables.  ``inv`` must carry (n_id, n_vec, cid) — the
    staged_ivf_index / ivf_ann_topk shape; the inverted file partitions
    on cid so probes prune at the scan."""
    cols = set(inv.columns)
    if not {"n_id", "n_vec", "cid"} <= cols:
        raise ValueError(
            f"inverted file must carry (n_id, n_vec, cid); got {sorted(cols)}"
        )
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2:
        raise ValueError("centroids must be a (n_centroids, dim) matrix")
    write = _writer(fmt)
    write(
        inv.select("n_id", "n_vec", "cid"),
        _join(path, _INVERTED),
        overwrite=True,
        partition_by=["cid"],
    )
    cents_df = local_frame(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cid int, vec array<double>",
    ).coalesce(1)
    write(cents_df, _join(path, _CENTROIDS), overwrite=True)


def load_ivf_index(
    spark: SparkSession, path: str, fmt: str = "delta"
) -> tuple[DataFrame, "np.ndarray"]:
    """Read the pair back: returns (inverted-file DataFrame, centroid
    matrix) — exactly the ``indexed``/``centroids`` arguments
    ivf_ann_topk serves from.  The centroid collect is
    n_centroids·dim-bounded (constant, never corpus-sized)."""
    read = _reader(fmt)
    inv = read(spark, _join(path, _INVERTED)).select("n_id", "n_vec", "cid")
    cent_rows = read(spark, _join(path, _CENTROIDS)).orderBy("cid").collect()
    if not cent_rows:
        raise ValueError(f"empty centroids table under {path}")
    cents = np.array([r["vec"] for r in cent_rows], dtype=np.float64)
    dim_rows = inv.select("n_vec").limit(1).collect()
    if dim_rows and len(dim_rows[0]["n_vec"]) != cents.shape[1]:
        raise ValueError(
            f"centroid dim {cents.shape[1]} != inverted-file vector dim "
            f"{len(dim_rows[0]['n_vec'])} — mismatched index pair"
        )
    return inv, cents


_BUCKETS = "buckets"
_CONFIG = "config"


def save_lsh_index(
    spark: SparkSession,
    indexed: DataFrame,
    dim: int,
    n_tables: int,
    planes_per_table: int,
    path: str,
    fmt: str = "delta",
) -> None:
    """Persist the multi-table LSH index: the bucketed corpus
    (n_id, n_vec, lsh_key struct) FLATTENED to (n_id, n_vec, table_id,
    bucket) and partitioned by table_id — a probe's per-table bucket scan
    prunes to that table's partition — plus a one-row config table
    recording the hyperplane parameters.  The planes themselves are
    deterministic from (dim, n_tables, planes_per_table) (seeded hash,
    operators/similarity._hyperplanes), so the config row IS the
    query-side hashing contract: load refuses to return an index without
    it, because probing under different planes silently yields zero-recall
    candidates."""
    cols = set(indexed.columns)
    if not {"n_id", "n_vec", "lsh_key"} <= cols:
        raise ValueError(
            f"LSH index must carry (n_id, n_vec, lsh_key); got {sorted(cols)}"
        )
    write = _writer(fmt)
    write(
        indexed.select(
            "n_id",
            "n_vec",
            indexed["lsh_key.table_id"].alias("table_id"),
            indexed["lsh_key.bucket"].alias("bucket"),
        ),
        _join(path, _BUCKETS),
        overwrite=True,
        partition_by=["table_id"],
    )
    cfg = local_frame(
        spark,
        [(int(dim), int(n_tables), int(planes_per_table))],
        "dim int, n_tables int, planes_per_table int",
    ).coalesce(1)
    write(cfg, _join(path, _CONFIG), overwrite=True)


def load_lsh_index(
    spark: SparkSession, path: str, fmt: str = "delta"
) -> tuple[DataFrame, dict]:
    """Read the LSH index back: (bucketed corpus with the lsh_key struct
    rebuilt — the ``indexed`` argument lsh_ann_topk serves from, config
    dict with the hyperplane parameters queries MUST hash under)."""
    from pyspark.sql import functions as F

    read = _reader(fmt)
    cfg_rows = read(spark, _join(path, _CONFIG)).collect()
    if len(cfg_rows) != 1:
        raise ValueError(
            f"LSH index config table under {path} must have exactly one "
            f"row, found {len(cfg_rows)} — refusing an index whose "
            "query-side hashing contract is ambiguous"
        )
    cfg = {
        "dim": int(cfg_rows[0]["dim"]),
        "n_tables": int(cfg_rows[0]["n_tables"]),
        "planes_per_table": int(cfg_rows[0]["planes_per_table"]),
    }
    inv = read(spark, _join(path, _BUCKETS)).select(
        "n_id",
        "n_vec",
        F.struct(
            F.col("table_id").cast("int").alias("table_id"),
            F.col("bucket").cast("int").alias("bucket"),
        ).alias("lsh_key"),
    )
    return inv, cfg
