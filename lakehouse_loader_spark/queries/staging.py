"""Session-scoped staged artifacts: one primitive, one lifecycle.

Several query families derive the same artifact from the same corpus on
every call: the dedup family's hashed shingle sets, MinHash signatures and
SimHash fingerprints; the ANN indexes; pagerank's edge list and
normalized adjacency; the streaming parities' multi-file events directory;
the pipeline queries' staged Delta/Iceberg tables with their DML applied.  Each is
built ONCE per key per session by :func:`stage` and every consumer —
across queries and across repeat runs — scans the files.  Only
INPUT-DERIVED artifacts are staged: candidate generation, verification,
clustering, supersteps and table reads — the operator work — still run
per query, so each query's bench number measures its operator, not a
cached answer.

At 100 TB this is the production shape, not a bench trick: a pipeline
running several passes over one corpus persists the signature table next
to the corpus (compute once, scan many).  Set ``spark.lakehouse.scratch.dir``
to a cluster-visible path and the same code stages to HDFS/S3.

Lifecycle of a staged artifact:

- **keyed per session** — the registry is one dict on the session object
  (``spark._lhl_staged``), so clones (``newSession()``) and tests never
  share entries.  A key is a tuple whose first element names the artifact
  (it appears in the dir name); the rest scopes it (usually ``sf_dir``).
- **built into a fresh path** — ``<root>/lhl-staged-<name>-<uuid>`` under
  the scratch root (``operators._scratch_path``); the path does not exist
  when ``build(path)`` runs.  A build that raises leaves no registry entry
  and no dir.
- **rebuilt on vanish** — a local dir deleted under the session is rebuilt
  on next use; a scheme'd URI trusts the registry (a reclaimed remote dir
  fails loudly on scan, never silently wrong).
- **reaped at exit** — every staged dir is removed at interpreter exit and
  never earlier, so a frame a caller still holds never loses its files.

:func:`memo` keeps small per-artifact constants (pagerank's edge and
node counts) in the same registry; key them on the staged path so a
rebuilt artifact is derived again.

Two build regimes, one lifecycle:

- **distributed** — the artifact frame is written by one Spark parquet
  write (``operators._staged_write``: full-width build, bounded file
  count).
- **driver** — for small artifacts that declare a gate (the dedup
  shingles and signatures, :data:`LOCAL_DEDUP_MAX_DOCS`; pagerank's edge
  list, ``operators.graph.LOCAL_PR_MAX_EDGES``): the frame's bounded
  Arrow collect (``session.collect_bounded``); at or below the gate the
  Arrow table is written as the same number of parquet files by
  ``pyarrow.parquet``, with no Spark write job, and
  the MinHash signatures are computed on the driver from the staged
  shingle files, with no pandas UDF and so no Python worker.  On a
  500-document corpus the per-job and worker-start costs are most of
  the build (McSherry et al., "Scalability! But at what COST?").  Above
  the gate the distributed build runs; the collect is not even tried
  when the frame's input files already hold more than ``gate`` rows.
  A scheme'd scratch root (``hdfs://``, ``s3a://`` —
  ``spark.lakehouse.scratch.dir``) always takes the distributed regime:
  the driver writes local files only.

Either way the build records the artifact's Spark schema (and, on the
driver, its row count), so every scan of a staged dir passes an explicit
schema (:func:`staged_scan`) instead of running a schema-inference job
per read.
"""

from __future__ import annotations

import atexit
import os

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs
# `pd` in module globals (``from __future__ import annotations`` stringifies
# the hints and pyspark resolves them against this module's namespace)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from lakehouse_loader_spark.catalog import load_table
from lakehouse_loader_spark.operators import _rm_scratch, _scratch_path, _staged_write
from lakehouse_loader_spark.session import collect_bounded, local_frame

# every dir staged in this process, with the session that staged it (the
# Hadoop FileSystem handle for scheme'd URIs); reaped by _reap_staged
_STAGED: list[tuple[str, SparkSession]] = []

# Document ceiling for the driver regime of the dedup shingle and
# signature artifacts.  A row is one document's whole shingle set, so what
# bounds driver memory is this constant times the documents' length: the
# collected shingle table holds 8 bytes per shingle (at most one shingle
# per word) and the signature matrix 1 KB per document (128 longs).  For
# this corpus's ~300-character documents (~50 shingles each) that is
# under 10 MB at the gate; sf0.1 (5,000 documents, ~2 MB of shingle
# hashes) is under it, the 50,000-document sf1 synth above it.  A corpus of
# much longer documents should lower it.
LOCAL_DEDUP_MAX_DOCS = 20_000


def _registry(spark: SparkSession) -> dict:
    return spark.__dict__.setdefault("_lhl_staged", {})


def _reap_staged() -> None:
    while _STAGED:
        _rm_scratch(*_STAGED.pop())


atexit.register(_reap_staged)


def stage(spark: SparkSession, key: tuple, build) -> str:
    """Path of the artifact ``build(path)`` writes, built once per ``key``
    per session (see the module docstring for the lifecycle)."""
    reg = _registry(spark)
    path = reg.get(key)
    if path is not None and ("://" in path or os.path.isdir(path)):
        return path
    reg.pop(key, None)
    path = _scratch_path(spark, f"lhl-staged-{key[0]}")
    try:
        build(path)
    except BaseException:
        _rm_scratch(path, spark)
        raise
    _STAGED.append((path, spark))
    reg[key] = path
    return path


def memo(spark: SparkSession, key: tuple, fn):
    """``fn()``, computed once per ``key`` per session in the staging
    registry."""
    reg = _registry(spark)
    if key not in reg:
        reg[key] = fn()
    return reg[key]


def _staged(
    spark: SparkSession, sf_dir: str, key: str, build, local=None
) -> DataFrame:
    """A scan of ``build()``'s frame, staged as parquet once per
    (key, sf_dir) per session (``local``: see :func:`_staged_path`)."""
    return staged_scan(spark, _staged_path(spark, sf_dir, key, build, local))


def _staged_path(
    spark: SparkSession, sf_dir: str, key: str, build, local=None
) -> str:
    """The path variant of :func:`_staged` — for consumers that re-scan
    the staged files from ANOTHER SparkSession (pagerank's isolated
    static-conf clone reads the norm artifact by path).  ``local()``, when
    given, is the artifact's driver regime: its rows as an Arrow table, or
    None above its gate (then ``build()`` runs distributed)."""

    def write(path: str) -> None:
        # bounded file count, same rationale as materialize_shared: tiny
        # files cost task overhead locally; parquet splittability restores
        # read parallelism on a real cluster regardless
        n_out = max(8, spark.sparkContext.defaultParallelism // 4)
        table = local() if local is not None and "://" not in path else None
        if table is None:
            df = build()
            _staged_write(df, n_out, path)
            meta = (df.schema, None)
        else:
            _write_arrow(table, n_out, path)
            meta = (from_arrow_schema(table.schema), table.num_rows)
        _registry(spark)[("meta", path)] = meta

    return stage(spark, (key, sf_dir), write)


def _write_arrow(table, n_out: int, path: str) -> None:
    """``table`` as ``n_out`` parquet files under the new dir ``path`` —
    the driver regime's stand-in for ``_staged_write``."""
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-table.num_rows // n_out) or 1
    for i in range(n_out):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def staged_scan(spark: SparkSession, path: str) -> DataFrame:
    """A scan of the artifact staged at ``path`` under the schema its
    build recorded — no schema-inference job."""
    schema, _ = _registry(spark)[("meta", path)]
    return spark.read.schema(schema).parquet(path)


def staged_rows(spark: SparkSession, path: str) -> int | None:
    """Row count of the artifact at ``path`` when it was built on the
    driver (known without a scan), else None."""
    return _registry(spark)[("meta", path)][1]


def staged_doc_shingles(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """(doc_id, source, sh_h): distinct word-k-gram shingles of every
    document as 64-bit xxhash64 values.  ``source`` rides along for
    decontamination (consumers that don't select it never read the column
    — columnar scan).  Identical derivation to
    ``operators.dedup.with_hashed_shingles``, so swapping a staged scan in
    for an inline computation cannot change any oracle-checked result.
    At or below :data:`LOCAL_DEDUP_MAX_DOCS` documents it is one JVM job
    and a driver-side write; above, the corpus is spread first."""
    return staged_scan(spark, _doc_shingles_path(spark, sf_dir, k))


def _doc_shingles_path(spark: SparkSession, sf_dir: str, k: int) -> str:
    from lakehouse_loader_spark.operators import spread
    from lakehouse_loader_spark.operators.dedup import with_hashed_shingles

    def shingles(docs: DataFrame) -> DataFrame:
        return with_hashed_shingles(docs, k=k).select("doc_id", "source", "sh_h")

    def docs() -> DataFrame:
        return load_table(spark, sf_dir, "documents")

    return _staged_path(
        spark,
        sf_dir,
        f"shingles{k}",
        lambda: shingles(spread(docs())),
        local=lambda: collect_bounded(shingles(docs()), LOCAL_DEDUP_MAX_DOCS),
    )


def staged_minhash_sigs(
    spark: SparkSession, sf_dir: str, k: int = 3, num_hashes: int = 128
) -> DataFrame:
    """(doc_id, minhash_sig): the 128-wide MinHash signature of every
    document with ≥1 shingle — derived FROM the staged shingle files,
    shared by the three minhash consumers (pairs, clusters,
    clusters_star).  When the shingles were staged on the driver, the
    signatures are too: pyarrow reads the shingle files and
    ``operators.dedup.minhash_signature_matrix`` signs them, with no Spark
    job and no Python worker; otherwise one columnar scan + the vectorized
    signature UDF.  Both run the same exact int64 kernel.  Docs without
    shingles are excluded exactly as ``minhash_candidate_pairs`` excludes
    them (they cannot be near-dups by this measure)."""
    from lakehouse_loader_spark.operators.dedup import with_minhash_signature

    sh_path = _doc_shingles_path(spark, sf_dir, k)

    def build() -> DataFrame:
        sh = staged_scan(spark, sh_path)
        return with_minhash_signature(
            sh.filter(F.size("sh_h") > 0), num_hashes, shingle_col="sh_h"
        ).select("doc_id", "minhash_sig")

    def local():
        if staged_rows(spark, sh_path) is None:
            return None
        return _local_minhash_sigs(sh_path, num_hashes)

    return _staged(spark, sf_dir, f"mhsig{k}_{num_hashes}", build, local)


def _local_minhash_sigs(sh_path: str, num_hashes: int):
    """The (doc_id, minhash_sig) Arrow table of the driver-staged shingle
    files at ``sh_path``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakehouse_loader_spark.operators.dedup import minhash_signature_matrix

    sh = pq.read_table(sh_path, columns=["doc_id", "sh_h"])
    sh = sh.filter(pc.fill_null(pc.list_value_length(sh["sh_h"]), 0).to_numpy() > 0)
    lengths = pc.list_value_length(sh["sh_h"]).to_numpy().astype(np.int64)
    hashes = pc.list_flatten(sh["sh_h"]).to_numpy()
    sigs = minhash_signature_matrix(hashes, lengths, num_hashes)
    offsets = pa.array(np.arange(0, sigs.size + 1, num_hashes, dtype=np.int32))
    return pa.table(
        {
            "doc_id": sh["doc_id"],
            "minhash_sig": pa.ListArray.from_arrays(offsets, pa.array(sigs.ravel())),
        }
    )


def staged_simhash(
    spark: SparkSession, sf_dir: str, bits: int, hash_fn: str
) -> DataFrame:
    """(doc_id, simhash): the SimHash fingerprint of every non-blank
    document — the banding/verify join then runs over 16-byte rows instead
    of re-fingerprinting the text per call.  Blank docs are excluded
    exactly as ``simhash_near_duplicates`` excludes them."""
    from lakehouse_loader_spark.operators import spread
    from lakehouse_loader_spark.operators.dedup import with_simhash

    def build() -> DataFrame:
        docs = spread(load_table(spark, sf_dir, "documents"))
        return (
            with_simhash(docs, bits=bits, hash_fn=hash_fn)
            .filter(F.trim(F.col("text")) != "")
            .select("doc_id", "simhash")
        )

    return _staged(spark, sf_dir, f"simhash{bits}_{hash_fn}", build)


def staged_pagerank_edges(
    spark: SparkSession, sf_dir: str, graph_key: str, build_edges
) -> str:
    """Path of the staged DISTINCT (src, dst) edge list ``build_edges()``
    derives — the corpus artifact pagerank consumes in both regimes (the
    driver regime collects it, the distributed regime normalizes it into
    :func:`staged_pagerank_norm`), so the edge derivation runs once per
    (graph_key, sf_dir) per session.  At or below
    ``operators.graph.LOCAL_PR_MAX_EDGES`` edges — where pagerank collects
    them anyway — it is written on the driver, and :func:`staged_rows`
    knows its edge count.  ``graph_key`` names the EDGE
    DERIVATION: the registry cannot inspect the ``build_edges`` closure,
    so two queries staging different graphs over the same corpus must
    pass distinct keys or the second would silently reuse the first's
    edges (ADVICE r13)."""
    from lakehouse_loader_spark.operators.graph import LOCAL_PR_MAX_EDGES

    return _staged_path(
        spark,
        sf_dir,
        f"pr_edges_{graph_key}",
        build_edges,
        local=lambda: collect_bounded(build_edges(), LOCAL_PR_MAX_EDGES),
    )


def staged_pagerank_norm(
    spark: SparkSession, sf_dir: str, graph_key: str, edges_path: str
) -> str:
    """Path of the staged normalized adjacency (``operators.graph.
    build_norm`` output: src, dst, 1/deg contribution edges +
    zero-weight self-edges) over the staged edge list at ``edges_path``
    (:func:`staged_pagerank_edges` with the same ``graph_key``) — the
    artifact every distributed superstep scans, staged once per
    (graph_key, sf_dir) per session.  Returned as a PATH because the
    static small-graph regime re-reads it from an isolated session
    (operators/graph.py:_static_session)."""
    from lakehouse_loader_spark.operators.graph import build_norm

    return _staged_path(
        spark,
        sf_dir,
        f"pr_norm_{graph_key}",
        lambda: build_norm(staged_scan(spark, edges_path)),
    )


def staged_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_tables: int = 8,
    planes_per_table: int = 4,
) -> DataFrame:
    """(n_id, n_vec, lsh_key): the multi-table random-hyperplane LSH
    INDEX over the embeddings corpus — the artifact every ANN deployment
    builds once per corpus and serves many query batches against
    (ann-benchmarks ships precomputed indexes for the same reason).
    Query-side hashing, candidate probing, and exact ranking still run
    per call."""
    from lakehouse_loader_spark.operators import spread
    from lakehouse_loader_spark.operators.similarity import with_lsh_buckets

    def build() -> DataFrame:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        return with_lsh_buckets(
            emb, dim, n_tables, planes_per_table, "embedding"
        ).select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_vec"),
            "lsh_key",
        )

    return _staged(spark, sf_dir, f"lsh{dim}_{n_tables}x{planes_per_table}", build)


def staged_ivf_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16
):
    """The IVF index pair: ((n_id, n_vec, cid) inverted file, trained
    centroid matrix) — FAISS's train-once/search-many shape.  The
    centroids ride in a tiny parquet next to the inverted file so a cache
    hit re-reads BOTH from disk (the assignment is only valid under the
    exact centroids it was made with)."""
    import numpy as np

    from lakehouse_loader_spark.operators.similarity import (
        train_ivf_centroids_sampled,
    )

    def build_cents() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = train_ivf_centroids_sampled(emb, n_centroids=n_centroids)
        return local_frame(
            spark,
            [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
            "cid int, vec array<double>",
        ).coalesce(1)

    cent_rows = (
        _staged(spark, sf_dir, f"ivfcents{n_centroids}", build_cents)
        .orderBy("cid")
        .collect()
    )
    cents = np.array([r["vec"] for r in cent_rows], dtype=np.float64)

    def build_inv() -> DataFrame:
        # the corpus-wide assignment pass, shared with the CLI index
        # builder (operators/similarity.py:assign_ivf_cells — one
        # normalized BLAS matmul per Arrow batch, zero-vector guarded)
        from lakehouse_loader_spark.operators.similarity import (
            assign_ivf_cells,
        )

        return assign_ivf_cells(load_table(spark, sf_dir, "embeddings"), cents)

    inv = _staged(spark, sf_dir, f"ivfinv{n_centroids}", build_inv)
    return inv, cents


def staged_rarity_ranked(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """(doc, rare_first): every document's hashed shingles ordered by
    corpus-global rarity (document frequency, ties by hash) — the PPJoin
    prefix INDEX both jaccard consumers (ngram pairs, incremental) slice
    their candidate prefixes from.  Derivation is identical to the inline
    build in ``operators.dedup.ngram_jaccard_pairs`` (explode → df count →
    rarity sort), computed once per (k, sf_dir) per session from the
    staged shingle files; candidate generation, length filtering and
    exact verification still run per query.  Docs with zero shingles are
    absent exactly as the inline build drops them (explode of an empty
    array)."""

    def build() -> DataFrame:
        sh = staged_doc_shingles(spark, sf_dir, k=k)
        ex = sh.select(F.col("doc_id").alias("doc"), F.explode("sh_h").alias("h"))
        dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        return (
            ex.join(dfreq, "h")
            .groupBy("doc")
            .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"))
            .select(
                "doc",
                F.transform("ordered", lambda s: s.getField("h")).alias("rare_first"),
            )
        )

    return _staged(spark, sf_dir, f"rarity{k}", build)


def staged_media_payloads(
    spark: SparkSession, sf_dir: str, kind: str
) -> DataFrame:
    """(doc_id, payload): the synthesized media corpus (``kind`` in
    ``media`` | ``jpeg`` | ``flac``) staged once per (kind, sf_dir) per
    session — the ``_staged_event_files`` playbook applied to the
    multimodal family.  Payload synthesis is INPUT derivation (a real
    pipeline's media bytes arrive on disk; synthesis exists here only
    because the testdata carries no binary column), so the decode/resize
    queries time codec work over real files instead of re-encoding the
    corpus per call.  Decode, feature extraction and the statistics
    columns — the operator work — still run per query.  The synthesized
    bytes are deterministic per doc_id, so a staged scan is byte-identical
    to an inline synthesis and cannot change any oracle-checked result."""
    from lakehouse_loader_spark.operators import multimodal as M

    builders = {
        "media": M.synthesize_media,
        "jpeg": M.synthesize_media_jpeg,
        "flac": M.synthesize_media_flac,
    }

    def build() -> DataFrame:
        return builders[kind](load_table(spark, sf_dir, "documents"))

    out = _staged(spark, sf_dir, f"media_{kind}", build)
    # the staged files pack into 1-2 scan splits (openCostInBytes charges
    # 4MB/file against a 128MB split) — fan the per-doc decode back across
    # the cluster; the exchange moves KB-scale payload rows, once
    return out.repartition(spark.sparkContext.defaultParallelism)


def staged_bpe_merges(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """The ITERATIVELY-trained BPE merge table (rank, a, b, merged, cnt) as
    a session-staged artifact — FAISS-shaped train-once/apply-many, like
    staged_ivf_index: bpe_train_iterative returns it and bpe_encode_corpus
    consumes it, so the k training rounds run once per (session, sf_dir)
    instead of once per encode call.  Vocab (the one corpus shuffle) is
    built here; the trainer itself never touches corpus volume
    (operators/text.py:bpe_train_merges)."""
    from lakehouse_loader_spark.operators.text import bpe_train_merges

    def build() -> DataFrame:
        from lakehouse_loader_spark.operators import materialize_shared

        docs = load_table(spark, sf_dir, "documents")
        vocab = (
            docs.select(
                F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
            )
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("wc"))
        )
        # the trainer consumes the vocab k times — pay the corpus shuffle
        # ONCE and let every round scan the columnar artifact
        vocab = materialize_shared(vocab, "bpe-vocab")
        merges = bpe_train_merges(vocab, k=k)
        return local_frame(
            spark, merges, "rank long, a string, b string, merged string, cnt long"
        ).coalesce(1)

    return _staged(spark, sf_dir, f"bpemerges{k}", build)
