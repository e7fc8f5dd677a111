"""Training-data pipeline query surface (round 2 widening): deterministic
sampling & splits, Gopher-style quality filtering, repetition signals, PII
redaction, normalization-aware dedup, and lateral top-n — all oracle-checked.

Design notes (100 TB): every sampling/split decision is a pure per-row hash
function (map-side, pushes past scans, deterministic across retries — see
operators/sampling.py); the text signals are JVM higher-order functions in
whole-stage codegen; the only shuffles are the per-group quota window and
the normalized-dedup aggregation, both keyed on uniform hashes/groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_loader_spark.catalog import load_table
from lakehouse_loader_spark.operators import sampling as SA
from lakehouse_loader_spark.operators import text as T
from lakehouse_loader_spark.queries import query
from lakehouse_loader_spark.queries.staging import stage
from lakehouse_loader_spark.session import local_frame

_TOKS = "string_split_regex(trim(text), '\\s+')"

# Row ceiling for broadcasting the near-dup COMPONENT frame in
# split_leakage_safe.  Same figure as the sinks' key-probe gates
# (delta.py DV_BROADCAST_MAX / iceberg.py DELETE_BROADCAST_MAX): 4M
# two-column rows ≈ tens of MB serialized, comfortably inside an
# executor.  Above it the hint is dropped — AQE chooses the strategy —
# because component count is O(duplicate docs), which on heavy-dup
# corpora is O(corpus), not "a tiny fraction".
COMPONENT_BROADCAST_MAX = 4_000_000


# --------------------------------------------------------------------------
# Deterministic hash sampling
# --------------------------------------------------------------------------
@query(
    "sample_hash_fraction",
    oracle=f"""
    SELECT doc_id, source, {SA.hash_bucket_sql('doc_id', 'samp')} AS bucket
    FROM documents
    WHERE {SA.hash_bucket_sql('doc_id', 'samp')} < 200000
    """,
)
def sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep a deterministic 20% of documents by md5-hash threshold — the
    retry-stable, coordination-free sampling primitive (a pure map-side
    filter; the RNG-based df.sample is neither deterministic under task
    retry nor reproducible across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.hash_sample(docs, "doc_id", 0.2, salt="samp").select(
        "doc_id", "source", SA.hash_bucket(F.col("doc_id"), "samp").alias("bucket")
    )


@query(
    "split_train_val_test",
    oracle=f"""
    WITH b AS (SELECT doc_id, source, {SA.hash_bucket_sql('doc_id', 'split')} AS bucket
               FROM documents)
    SELECT doc_id, source,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment as a pure function of doc_id:
    adding documents later never moves an existing row between splits
    (the invariant train/test hygiene depends on; RNG splits break it)."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.with_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    ).select("doc_id", "source", "split")


@query(
    "split_leakage_safe",
    oracle="""
    WITH RECURSIVE
    docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM docs),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            CAST(len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.8),
    edges AS (SELECT doc_a AS node, doc_b AS nbr FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, lab) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM edges)
      UNION
      SELECT e.nbr, r.lab FROM reach r JOIN edges e ON e.node = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT)
               AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
    SELECT doc_id, cluster_id,
           CASE WHEN {hb} < 800000 THEN 'train'
                WHEN {hb} < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """.replace("{hb}", SA.hash_bucket_sql("cluster_id", "split")),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: near-duplicate documents must never
    straddle the train/eval boundary (a train copy of a test document is
    contamination), so the split key is the document's NEAR-DUP CLUSTER
    id — minhash pairs at j ≥ 0.8 → connected components (cluster id =
    min member id), singletons their own cluster — and every member
    inherits its cluster's assignment.  Deterministic (hash split on the cluster id,
    same md5 pipeline as split_train_val_test): adding documents later
    never moves an existing cluster between splits.

    Scale shape: the banded minhash pipeline + distributed components —
    no all-pairs stage anywhere.  The per-doc assignment join broadcasts
    the component frame only when its KNOWN row count fits in an executor
    (COMPONENT_BROADCAST_MAX, the sinks' DV_BROADCAST_MAX twin): components
    are O(duplicate docs), and web-scale corpora run 30-50%+ near-dup, so
    an unconditional hint would force an O(corpus) broadcast exactly where
    leakage-safe splitting matters most.  The count is one cheap job — the
    small-graph regime returns a driver-built frame and the distributed
    regime reads its final localCheckpoint.  Over the ceiling the hint is
    dropped and AQE picks the join strategy.  The oracle recomputes
    components with a recursive CTE and the identical hash expression."""
    from lakehouse_loader_spark.operators import dedup as D
    from lakehouse_loader_spark.operators.clusters import connected_components
    from lakehouse_loader_spark.queries.extensions import _staged_minhash_inputs

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, threshold=0.8, **_staged_minhash_inputs(spark, sf_dir)
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    n_comp = comp.count()
    _bcast = F.broadcast if n_comp <= COMPONENT_BROADCAST_MAX else (lambda df: df)
    assigned = (
        docs.select("doc_id")
        .join(_bcast(comp), docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    b = SA.hash_bucket(F.col("cluster_id"), "split")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(b < 800_000, "train")
        .when(b < 900_000, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "sample_quota_per_source",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {SA.hash_bucket_sql('doc_id', 'quota')}, doc_id)
               AS sample_rank
      FROM documents)
    SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= 10
    """,
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (≤10 docs per source), chosen by hash order:
    the corpus-curation shape for "at most N pages per domain".  One window
    shuffle on source; WindowGroupLimit prunes each map partition to its
    local top-n first."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.quota_per_group(docs, "source", "doc_id", 10, salt="quota").select(
        "doc_id", "source", "sample_rank"
    )


# --------------------------------------------------------------------------
# Quality filtering & repetition
# --------------------------------------------------------------------------
@query(
    "text_gopher_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
               / len(toks) AS mean_word_len,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
               / len(toks) AS frac_alpha_words,
             CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
               / len(toks) AS symbol_word_ratio,
             (text LIKE '-%' OR text LIKE '*%') AS starts_bullet,
             text LIKE '%...' AS ends_ellipsis,
             CAST(len(list_filter(toks, w -> list_contains(
               ['the','a','and','of','to','in','is','that','it','for'], w))) AS BIGINT)
               AS stop_hits
      FROM t)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           frac_alpha_words, symbol_word_ratio, starts_bullet, ends_ellipsis,
           stop_hits,
           (n_words >= 20 AND n_words <= 80
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND frac_alpha_words >= 0.8 AND symbol_word_ratio <= 0.1
            AND NOT starts_bullet AND NOT ends_ellipsis
            AND stop_hits >= 2) AS gopher_keep
    FROM s
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter: word count, mean word length, alpha-word
    fraction, symbol ratio, bullet/ellipsis markers, stopword evidence and
    the composite keep verdict.  All ratios are single IEEE divisions of
    exact integer counts — engine-bit-identical without rounding."""
    docs = load_table(spark, sf_dir, "documents")
    return T.with_gopher_signals(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "frac_alpha_words",
        "symbol_word_ratio",
        "starts_bullet",
        "ends_ellipsis",
        "stop_hits",
        "gopher_keep",
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS g2,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS g3
      FROM t)
    SELECT doc_id,
           CASE WHEN len(g2) > 0 THEN
             CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
           ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN len(g3) > 0 THEN
             CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
           ELSE 0.0 END AS dup_3gram_frac
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals: duplicated word 2-gram / 3-gram
    fractions (the Gopher/RefinedWeb repetition family) — flags boilerplate
    and generated spam that survives exact dedup.  One pass of higher-order
    functions, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    return T.with_repetition_signals(docs).select(
        "doc_id", "dup_2gram_frac", "dup_3gram_frac"
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------
@query(
    "text_pii_redact",
    oracle=f"""
    WITH s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{T.PII_EMAIL}')) AS BIGINT) AS n_emails,
             regexp_replace(text, '{T.PII_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM documents),
    s2 AS (
      SELECT doc_id, n_emails,
             CAST(len(regexp_extract_all(t1, '{T.PII_PHONE}')) AS BIGINT) AS n_phones,
             regexp_replace(t1, '{T.PII_PHONE}', '<PHONE>', 'g') AS t2
      FROM s1)
    SELECT doc_id, n_emails, n_phones,
           CAST(len(regexp_extract_all(t2, '{T.PII_IPV4}')) AS BIGINT) AS n_ips,
           regexp_replace(t2, '{T.PII_IPV4}', '<IP>', 'g') AS clean_text
    FROM s2
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails → phones → IPv4 literals replaced with typed
    placeholders, with per-class counts.  Patterns restricted to syntax RE2
    (DuckDB) and Java regex implement identically — no backrefs or
    lookaround.  Map-side regexp_replace, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return T.with_pii_redaction(docs).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "clean_text"
    )


# --------------------------------------------------------------------------
# Normalization-aware exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact_normalized",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g')) AS norm
      FROM documents)
    SELECT MD5(norm) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM n GROUP BY MD5(norm)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (lowercase, strip punctuation,
    collapse whitespace): catches trivially-reformatted copies that byte
    dedup misses.  Same one-shuffle shape as dedup_exact, keyed on the
    normalized content hash."""
    docs = load_table(spark, sf_dir, "documents")
    norm = T.normalized_text_col(F.col("text"))
    return docs.groupBy(F.md5(norm.cast("binary")).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Lateral top-n (correlated derived table — Spark SQL LATERAL surface)
# --------------------------------------------------------------------------
@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
    WHERE c.c_custkey <= 200
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a correlated LATERAL derived table —
    the per-row-subquery SQL surface.  Catalyst decorrelates the lateral
    into a ranked window join, i.e. the same physical plan a hand-written
    row_number() top-n produces — no per-customer re-execution."""
    from lakehouse_loader_spark.catalog import register_views

    register_views(spark, sf_dir, only=["customer", "orders"])
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c.c_custkey <= 200
        """
    )


# --------------------------------------------------------------------------
# Time-series gap-fill (hypertable-style): dense per-user daily grid with
# carry-forward interpolation
# --------------------------------------------------------------------------
@query(
    "events_gapfill_daily",
    oracle="""
    WITH per_day AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS grid_day,
             CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS day_value
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, MIN(grid_day) AS lo, MAX(grid_day) AS hi
      FROM per_day GROUP BY user_id),
    grid AS (
      SELECT b.user_id, CAST(g.d AS DATE) AS grid_day
      FROM bounds b, LATERAL unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS g(d))
    SELECT g.user_id, g.grid_day,
           COALESCE(p.n, 0) AS n_events,
           LAST_VALUE(p.day_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.grid_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN per_day p
      ON p.user_id = g.user_id AND p.grid_day = g.grid_day
    """,
)
def events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: densify each user's daily series over
    their [first, last] activity span (sequence + explode — the grid is
    generated distributed, sized by per-user spans, never on the driver)
    and carry the last observed daily total forward across gaps
    (last(ignorenulls) window).  Days before a user's first value stay
    NULL — interpolation never invents history.

    Scale: one agg shuffle + one broadcast-able bounds join + one window
    shuffle, all keyed on user_id; grid density is bounded by span/day, so
    output is O(users · days), independent of raw event volume."""
    from pyspark.sql import Window as W

    from lakehouse_loader_spark.catalog import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    per_day = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("grid_day")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("day_value"),
        )
    )
    bounds = per_day.groupBy("user_id").agg(
        F.min("grid_day").alias("lo"), F.max("grid_day").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("grid_day"),
    )
    w = W.partitionBy("user_id").orderBy("grid_day").rowsBetween(W.unboundedPreceding, 0)
    return (
        grid.join(per_day, ["user_id", "grid_day"], "left")
        .select(
            "user_id",
            "grid_day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# --------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-capacity training sequences
# --------------------------------------------------------------------------
@query(
    "pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents (in deterministic
    doc_id order) are laid end-to-end into 512-token packs; each doc gets
    (pack_id, pack_offset) from the exclusive running token total — the
    SQL-expressible greedy packing (docs may straddle pack boundaries;
    boundary-respecting first-fit is not order-parallel, this is).

    Scale design (two-pass distributed prefix sum — NO global-order window):
      1. bucket: a deterministic, monotonic-in-doc_id range bucket computed
         from min/max doc_id (pure map-side expression; no sampling, so the
         bucketing is identical across the two passes and across retries),
      2. pass A: per-bucket token totals (tiny groupBy, ≤ n_buckets rows to
         the driver) → exclusive prefix offsets, broadcast back,
      3. pass B: partition-local running sum (window PARTITIONED by bucket)
         plus the broadcast bucket offset.
    Every window here is keyed, so no Exchange SinglePartition appears in
    the plan (pinned by tests/test_plan_quality.py); wall-clock parallelism
    is n_buckets ≈ defaultParallelism at any scale.  The token frame is NOT
    cached: tokenization is one map-side JVM regexp per row, and
    recomputing it in pass B is cheaper and more robust at 100 TB than
    pinning a corpus-sized frame in executor memory (and a persist here
    leaked for the session lifetime, since the returned plan still
    references the frame — ADVICE r04; swap in a temp-parquet materialize
    if tokenization ever becomes the dominant cost)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(T.tokens_col(F.col("text"))).cast("bigint")
    t = docs.select("doc_id", n_tokens.alias("n_tokens"))

    n_buckets = max(2, spark.sparkContext.defaultParallelism)
    lo, hi = t.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:  # empty table: no rows, any plan works
        return t.select(
            "doc_id",
            "n_tokens",
            F.lit(0).cast("bigint").alias("pack_id"),
            F.lit(0).cast("bigint").alias("pack_offset"),
        )
    span = int(hi) - int(lo) + 1
    bucket = F.least(
        F.lit(n_buckets - 1),
        ((F.col("doc_id") - F.lit(int(lo))) * n_buckets / F.lit(span)).cast("int"),
    )
    tb = t.withColumn("_bkt", bucket)
    # pass A: constant-size driver state (one row per bucket); tokenization
    # runs map-side into a partial aggregate — nothing corpus-sized moves
    totals = tb.groupBy("_bkt").agg(F.sum("n_tokens").alias("_tot")).collect()
    offsets, running = [], 0
    for row in sorted(totals, key=lambda r: r["_bkt"]):
        offsets.append((int(row["_bkt"]), running))
        running += int(row["_tot"])
    off_df = local_frame(spark, offsets, "_bkt int, _bkt_off bigint")

    # pass B: keyed window (bucket-local running sum) + broadcast offsets;
    # recomputes the cheap token expression instead of caching the frame
    w = W.partitionBy("_bkt").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    local_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    cum_excl = F.col("_bkt_off") + local_excl
    return (
        tb.join(F.broadcast(off_df), "_bkt")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_excl / 512).cast("bigint").alias("pack_id"),
            (cum_excl % 512).cast("bigint").alias("pack_offset"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: drop corpus docs overlapping a held-out set
# --------------------------------------------------------------------------
@query(
    "decontaminate_docs",
    oracle="""
    WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM docs),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    stats AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap
      FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id)
    SELECT doc_id, n_shingles, n_overlap
    FROM stats WHERE 2 * n_overlap <= n_shingles
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, the document-level counterpart of
    ``text_cross_source_overlap``: treating source ``src0`` as the held-out
    benchmark, count each corpus document's distinct word-3-gram shingles
    that also appear in the benchmark and keep documents whose overlap is
    ≤ 50% (integer comparison ``2·n_overlap ≤ n_shingles`` — no float
    threshold to diverge between engines).

    Scale shape: ONE shuffle join keyed on the 64-bit shingle hash (8-byte
    keys, same accepted collision exposure as the dedup family) followed by
    one aggregation keyed on doc_id.  The benchmark side is deduped
    pre-join; no per-document set is ever collected to the driver."""
    from lakehouse_loader_spark.queries.staging import staged_doc_shingles

    # explode off the family-shared hashed-shingle stage (the staged frame
    # carries `source` precisely for this consumer) — same derivation as
    # the former inline with_shingles pass, computed once per session
    sh = staged_doc_shingles(spark, sf_dir).select(
        "doc_id", "source", F.explode("sh_h").alias("sh_h")
    )
    bench = (
        sh.filter(F.col("source") == "src0")
        .select("sh_h")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "sh_h")
    stats = (
        corpus.join(bench, "sh_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_overlap"),
        )
    )
    return stats.filter(2 * F.col("n_overlap") <= F.col("n_shingles")).select(
        "doc_id", "n_shingles", "n_overlap"
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle: reproducible training order, no global sort
# --------------------------------------------------------------------------
@query(
    "shuffle_deterministic",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {SA.hash_bucket_sql('doc_id', 'shuf')} AS bucket FROM documents)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bucket, doc_id) AS BIGINT) AS shuffle_rank
    FROM b
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order: rank documents by
    md5-hash bucket (doc_id tie-break) — reproducible across engines,
    retries, and runs, unlike RNG-based ``orderBy(rand())``.

    Global rank WITHOUT a global-order window, same two-pass pattern as
    pack_sequences: the hash bucket maps monotonically onto a coarse range
    cell, per-cell counts (constant driver state) become broadcast
    exclusive offsets, and a cell-keyed window assigns local row numbers.
    (bucket, doc_id) ordering is equivalent to (cell, bucket, doc_id)
    because equal buckets share a cell, so cell-local rank + cell offset IS
    the global rank."""
    from pyspark.sql import Window as W

    from lakehouse_loader_spark.operators.sampling import BUCKET_SPACE

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    t = docs.select("doc_id", SA.hash_bucket(F.col("doc_id"), "shuf").alias("_bkt"))
    n_cells = max(2, spark.sparkContext.defaultParallelism)
    t2 = t.withColumn(
        "_cell", (F.col("_bkt") * n_cells / F.lit(BUCKET_SPACE)).cast("int")
    )
    counts = t2.groupBy("_cell").count().collect()
    offsets, running = [], 0
    for row in sorted(counts, key=lambda r: r["_cell"]):
        offsets.append((int(row["_cell"]), running))
        running += int(row["count"])
    off_df = local_frame(spark, offsets, "_cell int, _off bigint")
    w = W.partitionBy("_cell").orderBy("_bkt", "doc_id")
    return (
        t2.join(F.broadcast(off_df), "_cell")
        .select(
            "doc_id",
            (F.row_number().over(w) + F.col("_off")).cast("bigint").alias("shuffle_rank"),
        )
    )


# --------------------------------------------------------------------------
# Mixture-weighted sampling: per-source sampling rates from a mixture spec
# --------------------------------------------------------------------------
MIXTURE_SPEC = {"src0": 0.9, "src1": 0.5, "src2": 0.5}
MIXTURE_DEFAULT = 0.2


_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{src}' THEN {SA.bucket_threshold(frac)}"
    for src, frac in sorted({"src0": 0.9, "src1": 0.5, "src2": 0.5}.items())
) + f" ELSE {SA.bucket_threshold(0.2)} END"


@query(
    "sample_mixture_weights",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source, {SA.hash_bucket_sql('doc_id', 'mix')} AS bucket
      FROM documents)
    SELECT doc_id, source FROM b
    WHERE bucket < {_MIX_CASE}
    """,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted corpus sampling: each source is kept at its own
    rate (90%/50%/20% here) — the domain-reweighting step of training-data
    curation (up-sample curated sources, down-sample crawl), still a pure
    map-side hash decision per row: deterministic, no shuffle, no RNG."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = SA.hash_bucket(F.col("doc_id"), "mix")
    # thresholds through the ONE shared rounding convention — the oracle
    # interpolates the same bucket_threshold values (no hand-coded literals)
    rate = F.lit(SA.bucket_threshold(MIXTURE_DEFAULT))
    for src, frac in MIXTURE_SPEC.items():
        rate = F.when(F.col("source") == src, SA.bucket_threshold(frac)).otherwise(rate)
    return docs.filter(bucket < rate).select("doc_id", "source")


# --------------------------------------------------------------------------
# Conversion funnel: ordered view -> click -> purchase progression per user
# --------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM s1),
    s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
      FROM s2)
    SELECT DISTINCT user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage
    FROM s3
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each stage's
    entry time is the earliest qualifying event AFTER the previous stage —
    sequence matters, not mere presence.  Three chained window minima over
    one user-partitioned shuffle; no self-joins, no per-user collect."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    s = ev.withColumn("t1", F.min(F.when(et == "view", ts)).over(w))
    s = s.withColumn(
        "t2", F.min(F.when((et == "click") & (ts > F.col("t1")), ts)).over(w)
    )
    s = s.withColumn(
        "t3", F.min(F.when((et == "purchase") & (ts > F.col("t2")), ts)).over(w)
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return s.select("user_id", stage.cast("bigint").alias("funnel_stage")).distinct()


# --------------------------------------------------------------------------
# Retention cohorts: weekly cohort x week-offset active-user counts
# --------------------------------------------------------------------------
@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(time_bucket(INTERVAL '7 days', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(time_bucket(INTERVAL '7 days', e.ts) AS DATE) AS active_week
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM activity
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention analysis: users grouped into weekly first-activity cohorts;
    for each cohort x week-offset, how many distinct users were active.
    Two aggregations on the user key plus one broadcast-able cohort join —
    the standard cohort-table shape, linear in events."""
    ev = load_table(spark, sf_dir, "events")
    # 7-day buckets anchored to 2000-01-03 (the Monday origin DuckDB's
    # time_bucket uses for day-granularity intervals) so cohort boundaries
    # are identical in both engines
    anchor = F.lit("2000-01-03").cast("date")
    days = F.datediff(F.col("ts").cast("date"), anchor)
    week = F.date_add(anchor, (days - F.pmod(days, F.lit(7))).cast("int"))
    ev = ev.withColumn("active_week", week)
    firsts = ev.groupBy("user_id").agg(F.min("active_week").alias("cohort_week"))
    # no broadcast hint: firsts is one row per distinct USER — it only fits
    # in memory at small scale, and AQE already broadcasts when it does;
    # the shuffle join on user_id is the correct plan beyond that
    activity = ev.select("user_id", "active_week").distinct().join(firsts, "user_id")
    return (
        activity.groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------------
# Data profiling: per-column stats in ONE distributed pass
# --------------------------------------------------------------------------
@query(
    "profile_table",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS qty_null,
             COUNT(DISTINCT l_quantity) AS qty_nd,
             MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
             ROUND(AVG(l_quantity), 4) AS qty_avg,
             SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS px_null,
             COUNT(DISTINCT l_extendedprice) AS px_nd,
             MIN(l_extendedprice) AS px_min, MAX(l_extendedprice) AS px_max,
             ROUND(AVG(l_extendedprice), 4) AS px_avg,
             SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS rf_null,
             COUNT(DISTINCT l_returnflag) AS rf_nd,
             MIN(l_returnflag) AS rf_min, MAX(l_returnflag) AS rf_max,
             SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS sd_null,
             COUNT(DISTINCT l_shipdate) AS sd_nd,
             CAST(MIN(l_shipdate) AS VARCHAR) AS sd_min,
             CAST(MAX(l_shipdate) AS VARCHAR) AS sd_max
      FROM lineitem)
    SELECT 'l_quantity' AS col_name, CAST(n AS BIGINT) AS n_rows,
           CAST(qty_null AS BIGINT) AS n_null, CAST(qty_nd AS BIGINT) AS n_distinct,
           CAST(qty_min AS DOUBLE) AS min_num, CAST(qty_max AS DOUBLE) AS max_num,
           CAST(qty_avg AS DOUBLE) AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', CAST(n AS BIGINT), CAST(px_null AS BIGINT),
           CAST(px_nd AS BIGINT), CAST(px_min AS DOUBLE), CAST(px_max AS DOUBLE),
           CAST(px_avg AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM m
    UNION ALL
    SELECT 'l_returnflag', CAST(n AS BIGINT), CAST(rf_null AS BIGINT),
           CAST(rf_nd AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), rf_min, rf_max
    FROM m
    UNION ALL
    SELECT 'l_shipdate', CAST(n AS BIGINT), CAST(sd_null AS BIGINT),
           CAST(sd_nd AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), sd_min, sd_max
    FROM m
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profiling — row count, null count, exact distinct
    count, min/max, numeric mean — the schema-drift / data-quality gate a
    pipeline runs before training ingestion.

    Scale design: ONE aggregate over the table computes every metric
    (Catalyst plans the multi-count-distinct via a single Expand + two-stage
    aggregate — one shuffle, no per-column scans), producing a single row
    that is then unpivoted into the long report shape via explode on a
    constant-size array.  Numeric min/max/avg stay typed doubles and
    temporal/string bounds become strings, so the long format never casts
    numerics through strings (engine float-formatting differs)."""
    li = load_table(spark, sf_dir, "lineitem")

    def null_count(c: str):
        return F.sum(F.col(c).isNull().cast("bigint"))

    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        null_count("l_quantity").alias("qty_null"),
        F.countDistinct("l_quantity").alias("qty_nd"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.round(F.avg("l_quantity"), 4).alias("qty_avg"),
        null_count("l_extendedprice").alias("px_null"),
        F.countDistinct("l_extendedprice").alias("px_nd"),
        F.min("l_extendedprice").alias("px_min"),
        F.max("l_extendedprice").alias("px_max"),
        F.round(F.avg("l_extendedprice"), 4).alias("px_avg"),
        null_count("l_returnflag").alias("rf_null"),
        F.countDistinct("l_returnflag").alias("rf_nd"),
        F.min("l_returnflag").alias("rf_min"),
        F.max("l_returnflag").alias("rf_max"),
        null_count("l_shipdate").alias("sd_null"),
        F.countDistinct("l_shipdate").alias("sd_nd"),
        F.min("l_shipdate").cast("string").alias("sd_min"),
        F.max("l_shipdate").cast("string").alias("sd_max"),
    )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def row(name, n_null, nd, mn_num, mx_num, avg, mn_s, mx_s):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.col(n_null).cast("bigint").alias("n_null"),
            F.col(nd).cast("bigint").alias("n_distinct"),
            (F.col(mn_num).cast("double") if mn_num else null_d).alias("min_num"),
            (F.col(mx_num).cast("double") if mx_num else null_d).alias("max_num"),
            (F.col(avg).cast("double") if avg else null_d).alias("avg_num"),
            (F.col(mn_s) if mn_s else null_s).alias("min_str"),
            (F.col(mx_s) if mx_s else null_s).alias("max_str"),
        )

    report = F.array(
        row("l_quantity", "qty_null", "qty_nd", "qty_min", "qty_max", "qty_avg", None, None),
        row("l_extendedprice", "px_null", "px_nd", "px_min", "px_max", "px_avg", None, None),
        row("l_returnflag", "rf_null", "rf_nd", None, None, None, "rf_min", "rf_max"),
        row("l_shipdate", "sd_null", "sd_nd", None, None, None, "sd_min", "sd_max"),
    )
    return m.select(F.explode(report).alias("r")).select("r.*")


# --------------------------------------------------------------------------
# Data profiling: fixed-width numeric histogram (one pass, one tiny agg)
# --------------------------------------------------------------------------
@query(
    "profile_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
           CAST(LEAST(FLOOR(o_totalprice / 50000), 9) * 50000 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (50k-wide buckets of o_totalprice, top
    bucket open-ended): the distribution sketch a pipeline renders before
    choosing partition bounds or spotting drift.  Bucketing is a map-side
    expression; the aggregate shuffles ≤ 10 grouped rows per partition —
    the same one-shuffle shape at any scale."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("bigint")
    return (
        o.groupBy(
            bucket.alias("bucket"),
            (bucket * 50000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Importance-weighted deterministic sampling (quality-proportional keep)
# --------------------------------------------------------------------------
@query(
    "sample_importance_weighted",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, n_chars,
             LEAST(n_chars / 4000.0, 1.0) AS keep_p,
             {SA.hash_bucket_sql('doc_id', 'imp')} AS bucket
      FROM documents)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(keep_p, 6) AS keep_p
    FROM w
    WHERE bucket < CAST(ROUND(keep_p * {SA.BUCKET_SPACE}) AS BIGINT)
    """,
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Bernoulli keep with probability proportional to a quality
    signal (here: length, capped at 1) — longer documents survive, short
    ones thin out, and the decision is a pure hash of the key so retries
    and backfills keep the SAME rows.  Map-side filter, no shuffle, no
    RNG."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.least(F.col("n_chars") / 4000.0, F.lit(1.0))
    return SA.importance_sample(
        docs.withColumn("keep_p", keep_p), "doc_id", "keep_p", salt="imp"
    ).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round("keep_p", 6).alias("keep_p"),
    )


# --------------------------------------------------------------------------
# Context-window chunking with overlap
# --------------------------------------------------------------------------
@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(range(1, GREATEST(len(t) - 16, 1) + 1, 112)) AS chunk_start
      FROM toks)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(t[chunk_start:chunk_start+127]) AS BIGINT) AS chunk_tokens,
           MD5(array_to_string(t[chunk_start:chunk_start+127], ' ')) AS chunk_hash
    FROM starts
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size context-window chunking (128 tokens, 16 overlap): every
    token covered, consecutive chunks share the overlap, chunk content
    carried as md5 so the check compares bytes without megabyte strings.
    Entirely map-side (tokenize + sequence + posexplode) — zero shuffles
    at any scale."""
    return T.chunk_tokens(
        load_table(spark, sf_dir, "documents"), chunk_size=128, overlap=16
    )


# --------------------------------------------------------------------------
# Mergeable sketches (Apache DataSketches, built into Spark 4): the
# scale-path aggregate pattern — sketch per shard map-side, merge sketches,
# never re-scan.  Estimates are engine-specific, so these register
# rows-only; error bounds are pytest-asserted against exact answers
# (tests/test_pipeline_ops.py).
# --------------------------------------------------------------------------
@query(
    "agg_sketch_distinct_theta",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
    FROM events
    ORDER BY event_type
    """,
)
def agg_sketch_distinct_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type via theta sketches, plus a sketch-level
    UNION across all types — the mergeable form of COUNT(DISTINCT): each
    shard sketches locally, sketches (not rows) move in the shuffle, and
    set operations (union here, intersection/difference for overlap
    analyses) happen on the sketches.  At 100 TB this replaces the
    expand-shuffle of exact distinct with constant-size state per group.

    Oracle contract (VERDICT r5 item 5): the estimate itself is
    engine-specific, so the output carries the EXACT count (hash-compared
    against DuckDB) plus ``within_bound`` = |estimate − exact| ≤ 5% · exact
    — the driver goes red if the sketch ever drifts past its published
    error (default lgK=12 ⇒ ~3.1% at 2σ; 5% gives deterministic headroom,
    and below 4096 distincts the sketch is exact).  The exact aggregate
    exists only to power this check; the sketch side is the scale path."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    est = F.theta_sketch_estimate("sk")
    ok = (F.abs(est - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
        "within_bound"
    )
    out = per_type.select("event_type", F.col("exact_users").cast("bigint"), ok)
    total_est = F.theta_sketch_estimate(F.theta_union_agg("sk"))
    total = (
        per_type.agg(
            total_est.alias("e"),
            # exact distinct across types needs the raw column, not the
            # per-type exacts (users appear under several types)
        )
        .crossJoin(F.broadcast(ev.agg(F.countDistinct("user_id").alias("exact_users"))))
        .select(
            F.lit("__all__").alias("event_type"),
            F.col("exact_users").cast("bigint"),
            (F.abs(F.col("e") - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
                "within_bound"
            ),
        )
    )
    return out.unionByName(total).orderBy("event_type")


@query(
    "agg_sketch_distinct_hll",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
    FROM events
    ORDER BY event_type
    """,
)
def agg_sketch_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct counting — the third DataSketches family next to
    theta (set operations) and KLL (quantiles): HyperLogLog trades theta's
    set algebra for the smallest possible mergeable state (KB per group at
    any cardinality), the right sketch when only the COUNT is needed.
    Per-type sketches merge via hll_union_agg for the __all__ row.  Same
    oracle contract as the theta query: exact count + within_bound
    (default lgConfigK=12 ⇒ ~1.6% RSE; 5% bound with 2σ headroom),
    hash-checked by the driver."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    est = F.hll_sketch_estimate("sk")
    out = per_type.select(
        "event_type",
        F.col("exact_users").cast("bigint"),
        (F.abs(est - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
            "within_bound"
        ),
    )
    total = (
        per_type.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .crossJoin(F.broadcast(ev.agg(F.countDistinct("user_id").alias("exact_users"))))
        .select(
            F.lit("__all__").alias("event_type"),
            F.col("exact_users").cast("bigint"),
            (F.abs(F.col("e") - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
                "within_bound"
            ),
        )
    )
    return out.unionByName(total).orderBy("event_type")


@query(
    "agg_sketch_quantile_kll",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT '__all__', CAST(COUNT(*) AS BIGINT), TRUE, TRUE FROM orders
    ORDER BY o_orderstatus
    """,
)
def agg_sketch_quantile_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles per status via KLL sketches, merged to a
    global sketch — the mergeable form of percentile: per-group sketches
    combine instead of re-sorting raw values, the shape streaming/rollup
    quantile pipelines need at scale.

    Oracle contract (VERDICT r5 item 5): quantile VALUES are
    engine-specific, but KLL's published guarantee is on RANK (default
    k=200 ⇒ ~1.65% at 99% confidence), so the output verifies the
    estimate's true rank — the fraction of rows ≤ the estimated p50 (p95)
    must land within ±5% of 0.5 (0.95) — and hash-compares that boolean
    plus the exact group count against DuckDB.  A drifting sketch turns
    the driver row red."""
    o = load_table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    est = per_status.select(
        "o_orderstatus",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50e"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95e"),
    )
    merged = o.agg(F.kll_sketch_agg_double("o_totalprice").alias("sk")).select(
        F.lit("__all__").alias("o_orderstatus"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50e"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95e"),
    )
    targets = est.unionByName(merged)

    def rank_check(df: DataFrame) -> DataFrame:
        price = F.col("o_totalprice").cast("double")
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg((price <= F.col("p50e")).cast("double")).alias("r50"),
            F.avg((price <= F.col("p95e")).cast("double")).alias("r95"),
        )

    # broadcast the tiny (status → estimate) table back over the rows to
    # measure each estimate's TRUE rank in one pass
    per = rank_check(o.join(F.broadcast(targets.filter("o_orderstatus <> '__all__'")), "o_orderstatus"))
    allr = rank_check(
        o.crossJoin(F.broadcast(targets.filter("o_orderstatus = '__all__'").drop("o_orderstatus")))
        .withColumn("o_orderstatus", F.lit("__all__"))
    )
    return (
        per.unionByName(allr)
        .select(
            "o_orderstatus",
            F.col("n_rows").cast("bigint"),
            (F.abs(F.col("r50") - 0.5) <= 0.05).alias("p50_rank_ok"),
            (F.abs(F.col("r95") - 0.95) <= 0.05).alias("p95_rank_ok"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_sketch_freq_items",
    oracle="""
    WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    f AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY event_type)
    SELECT f.event_type, f.exact_count, TRUE AS found_by_sketch
    FROM f CROSS JOIN t
    WHERE f.exact_count > 0.15 * t.n
    ORDER BY f.event_type
    """,
)
def agg_sketch_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters — the fourth sketch family next to HLL (counts),
    theta (set algebra) and KLL (quantiles): single-pass frequent-items
    detection via Spark's built-in ``freqItems`` (the Karp/Shenker/
    Papadimitriou counter algorithm).  Its published guarantee is
    INCLUSION: every item with true frequency > the support threshold is
    in the returned set (false positives allowed, misses not).  The
    driver-checked output is exactly that guarantee: one row per TRUE
    heavy hitter (exact count > 15% of rows, computed in-plan) with a
    found_by_sketch flag that the sketch's item set must confirm — a
    missed heavy hitter flips the flag and the row goes red.  At 100 TB
    this is the one-pass, fixed-memory answer to "which values dominate
    this column" — no shuffle of the full distribution, state is
    O(1/support) counters per partition merged map-side."""
    ev = load_table(spark, sf_dir, "events")
    sketch = ev.select("event_type").stat.freqItems(["event_type"], support=0.15)
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    heavy = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") > 0.15 * F.col("n"))
        .crossJoin(F.broadcast(sketch))
    )
    return heavy.select(
        "event_type",
        F.col("exact_count").cast("bigint"),
        F.array_contains(F.col("event_type_freqItems"), F.col("event_type")).alias(
            "found_by_sketch"
        ),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Change-data-feed parity, driver-checked: a Delta table staged from orders
# goes through append + row-level DELETE, and the log-derived change feed
# must hash-match the oracle's direct computation of the same change set.
# --------------------------------------------------------------------------
@query(
    "delta_change_feed",
    oracle="""
    SELECT o_orderkey, o_custkey, 'insert' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey % 10 IN (6, 7)
    UNION ALL
    SELECT o_orderkey, o_custkey, 'delete' AS _change_type,
           CAST(3 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey % 10 < 8 AND o_totalprice < 50000.0
    """,
)
def delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage orders (o_orderkey%10 < 6) as a Delta table, append the %10 in
    (6,7) slice (commit v2), row-level DELETE o_totalprice < 50000 (commit
    v3), then read the row-level change feed since v1.  The feed is derived
    purely from the transaction log + changed files (sinks/delta.py:
    read_delta_changes), so its inserts must equal the appended slice and
    its deletes exactly the DELETE's matched rows — which the oracle
    recomputes straight from the source table."""
    from lakehouse_loader_spark.sinks import delta as DL

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        DL.write_delta(orders.filter(F.col("o_orderkey") % 10 < 6), table)
        DL.write_delta(
            orders.filter((F.col("o_orderkey") % 10).isin(6, 7)), table, append=True
        )
        DL.delete_from_delta(spark, table, "o_totalprice < 50000.0")

    table = stage(spark, ("delta_change_feed", sf_dir), build)
    return DL.read_delta_changes(spark, table, since_version=1).select(
        "o_orderkey", "o_custkey", "_change_type", "_commit_version"
    )


@query(
    "iceberg_change_feed",
    oracle="""
    SELECT o_orderkey, o_custkey, 'insert' AS _change_type,
           CAST(1 AS INTEGER) AS _snapshot_ordinal
    FROM orders WHERE o_orderkey % 10 IN (6, 7)
    UNION ALL
    SELECT o_orderkey, o_custkey, 'delete' AS _change_type,
           CAST(2 AS INTEGER) AS _snapshot_ordinal
    FROM orders WHERE o_orderkey % 10 < 8 AND o_totalprice < 50000.0
    """,
)
def iceberg_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format twin of delta_change_feed through the Iceberg sink: stage
    orders (%10 < 6) as an Iceberg table (snapshot ordinal 0), append the
    %10 in (6,7) slice (ordinal 1), row-level DELETE o_totalprice < 50000
    (ordinal 2), then read the snapshot-derived change feed since the
    creating snapshot (sinks/iceberg.py:read_iceberg_changes).  Inserts
    must equal the appended slice and deletes exactly the DELETE's matched
    rows — recomputed directly from the source table by the oracle."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        IC.write_iceberg(orders.filter(F.col("o_orderkey") % 10 < 6), table)
        IC.write_iceberg(
            orders.filter((F.col("o_orderkey") % 10).isin(6, 7)), table, append=True
        )
        IC.delete_from_iceberg(spark, table, "o_totalprice < 50000.0")

    table = stage(spark, ("iceberg_change_feed", sf_dir), build)
    first = IC.snapshot_ids(table)[0]
    return IC.read_iceberg_changes(spark, table, since_snapshot_id=first).select(
        "o_orderkey", "o_custkey", "_change_type", "_snapshot_ordinal"
    )


@query(
    "iceberg_partition_pruned_scan",
    oracle="""
    SELECT event_id, event_type, user_id, value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    """,
)
def iceberg_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events as an Iceberg table hidden-partitioned by day(ts)
    (sinks/transforms.py), then answer a one-day query through MANIFEST-
    level pruning: planning touches only metadata and the scan reads only
    the matching day's files — the transform-partitioning payoff the
    oracle checks by filtering the raw table directly."""
    import datetime as _dt

    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id", "value", "ts"
        )
        IC.write_iceberg(ev, table, partition_by=["day(ts)"])

    table = stage(spark, ("iceberg_partition_pruned_scan", sf_dir), build)
    return IC.read_iceberg_pruned(
        spark, table, "ts_day", _dt.date(2024, 1, 15)
    ).select("event_id", "event_type", "user_id", "value")


@query(
    "iceberg_mor_delete_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 < 8
      AND NOT (o_totalprice < 50000.0 AND o_orderstatus = 'F')
    """,
)
def iceberg_mor_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the correctness gate: stage orders
    (%10 < 8, two appended file sets) as an Iceberg table, DELETE
    low-price F-status rows with strategy="merge-on-read" (position-delete
    files committed, zero data files rewritten), then read the table back
    — the scan-side broadcast anti-join on (file path, row position) must
    reproduce exactly the oracle's surviving rows."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        IC.write_iceberg(orders.filter(F.col("o_orderkey") % 10 < 5), table)
        IC.write_iceberg(
            orders.filter((F.col("o_orderkey") % 10).isin(5, 6, 7)),
            table,
            append=True,
        )
        IC.delete_from_iceberg(
            spark,
            table,
            "o_totalprice < 50000.0 AND o_orderstatus = 'F'",
            strategy="merge-on-read",
        )

    table = stage(spark, ("iceberg_mor_delete_scan", sf_dir), build)
    return IC.read_iceberg(spark, table)


@query(
    "iceberg_dv_delete_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 < 8
      AND NOT (o_totalprice < 50000.0 AND o_orderstatus = 'F')
      AND NOT (o_totalprice < 20000.0)
    """,
)
def iceberg_dv_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-v3 DELETION VECTORS under the correctness gate: stage orders
    as an Iceberg table, run TWO merge-on-read-dv DELETEs (the second
    supersedes the first's bitmaps on shared target files — the spec's
    one-DV-per-data-file invariant, union built executor-side), then read
    the table back: the DV blobs resolve their targets from metadata
    alone, expand executor-side and anti-join the scan — surviving rows
    must equal the oracle's double-predicate filter exactly."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        IC.write_iceberg(
            orders.filter(F.col("o_orderkey") % 10 < 8).repartition(2), table
        )
        IC.delete_from_iceberg(
            spark,
            table,
            "o_totalprice < 50000.0 AND o_orderstatus = 'F'",
            strategy="merge-on-read-dv",
        )
        IC.delete_from_iceberg(
            spark, table, "o_totalprice < 20000.0", strategy="merge-on-read-dv"
        )

    table = stage(spark, ("iceberg_dv_delete_scan", sf_dir), build)
    return IC.read_iceberg(spark, table)


@query(
    "delta_row_tracking_scan",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS _row_id
      FROM orders WHERE o_orderkey % 8 = 0),
    b AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             (SELECT count(*) FROM orders WHERE o_orderkey % 8 = 0)
               + row_number() OVER (ORDER BY o_orderkey) - 1 AS _row_id
      FROM orders WHERE o_orderkey % 8 = 4)
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 16 = 8 THEN o_totalprice + 100000.0
                WHEN o_orderkey % 16 = 12 THEN o_totalprice * 2.0
                ELSE o_totalprice END AS o_totalprice,
           _row_id
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 80000.0)
    """,
)
def delta_row_tracking_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta row tracking under the correctness gate, exercising BOTH
    assignment paths AND the full id-preserving DML matrix (r10): part
    A's sorted file gets baseRowId 0 from the ``enable_row_tracking``
    backfill, part B's append file starts at the domain's high-water mark
    + 1 (stamped inside the commit retry loop).  Each part is one sorted
    file (repartition(1) + sortWithinPartitions) so physical row position
    matches the oracle's ORDER BY.  Then three id-preserving rewrites run
    in sequence — a merge-on-read DELETE (deletion vectors never move
    rows), a copy-on-write UPDATE (+100000 on the %16=8 keys) and a
    copy-on-write MERGE (doubling the %16=12 keys' totalprice) — and
    every surviving row must still carry its ORIGINAL id: the rewrites
    materialize the stable ids into the replacement files.  At scale the
    id map is one row per FILE (broadcast) and the DV anti-join is
    map-side — the same plan shape the dv/MOR queries pin."""
    from lakehouse_loader_spark.sinks import delta as DL

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )

        def part(rem: int):
            return (
                orders.filter(F.col("o_orderkey") % 8 == rem)
                .repartition(1)
                .sortWithinPartitions("o_orderkey")
            )

        DL.write_delta(part(0), table)
        DL.enable_row_tracking(table)
        DL.write_delta(part(4), table, append=True)
        DL.delete_from_delta(
            spark,
            table,
            "o_orderstatus = 'F' AND o_totalprice < 80000.0",
            mode="merge-on-read",
        )
        # copy-on-write UPDATE: matched rows keep their stable id (the
        # rewrite materializes it), carried-over rows keep id AND version
        DL.update_delta(
            spark,
            table,
            "o_orderkey % 16 = 8",
            {"o_totalprice": "o_totalprice + 100000.0"},
        )
        # copy-on-write MERGE over surviving keys only (no inserts, so the
        # oracle stays exact): matched rows keep their stable ids
        src = DL.read_delta(spark, table).filter(
            F.col("o_orderkey") % 16 == 12
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        DL.merge_delta(spark, table, src, "o_orderkey")

    table = stage(spark, ("delta_row_tracking_scan", sf_dir), build)
    return DL.read_delta_with_row_ids(spark, table).select(
        "o_orderkey", "o_totalprice", "_row_id"
    )


@query(
    "iceberg_row_lineage_scan",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS _row_id
      FROM orders WHERE o_orderkey % 4 = 1),
    b AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 1)
               + row_number() OVER (ORDER BY o_orderkey) - 1 AS _row_id
      FROM orders WHERE o_orderkey % 4 = 2)
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 8 = 5 THEN o_totalprice + 100000.0
                WHEN o_orderkey % 8 = 6 THEN o_totalprice * 2.0
                ELSE o_totalprice END AS o_totalprice,
           _row_id
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 150000.0)
    """,
)
def iceberg_row_lineage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg spec-v3 row lineage under the correctness gate — the format
    twin of delta_row_tracking_scan, exercising BOTH assignment paths AND
    the id-preserving DML matrix (r11): the enablement backfill (part A's
    file gets first_row_id 0) and the write-path stamping (part B's append
    file starts at next-row-id = count(A)).  Each part is one sorted file
    so physical position matches the oracle's ORDER BY.  Then three
    id-preserving rewrites run in sequence — a deletion-vector DELETE
    (DVs never move rows), a copy-on-write UPDATE (+100000 on the %8=5
    keys) and a copy-on-write MERGE (doubling the %8=6 keys' totalprice;
    matched-only source, so the oracle stays exact) — and every surviving
    row must still carry its ORIGINAL id: the rewrites materialize the
    resolved ids into the replacement files, and carried-over files keep
    their original data sequence numbers (status-EXISTING entries).  At
    scale the id map is one broadcast row per FILE and the manifest-bounds
    probe prunes non-intersecting files before any data is read."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )

        def part(rem: int):
            return (
                orders.filter(F.col("o_orderkey") % 4 == rem)
                .repartition(1)
                .sortWithinPartitions("o_orderkey")
            )

        IC.write_iceberg(part(1), table)
        IC.enable_row_lineage_iceberg(table)
        IC.write_iceberg(part(2), table, append=True)
        IC.delete_from_iceberg(
            spark,
            table,
            "o_orderstatus = 'O' AND o_totalprice > 150000.0",
            strategy="merge-on-read-dv",
        )
        # copy-on-write UPDATE: matched rows keep their stable id (the
        # rewrite materializes it); the forced DV-target rewrite doubles
        # as the deletes compaction
        IC.update_iceberg(
            spark,
            table,
            "o_orderkey % 8 = 5",
            {"o_totalprice": "o_totalprice + 100000.0"},
        )
        # copy-on-write MERGE over surviving keys only (no inserts, so the
        # oracle stays exact): matched rows keep their stable ids
        src = IC.read_iceberg(spark, table).filter(
            F.col("o_orderkey") % 8 == 6
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        IC.merge_iceberg(spark, table, src, "o_orderkey")

    table = stage(spark, ("iceberg_row_lineage_scan", sf_dir), build)
    return IC.read_iceberg_with_row_ids(spark, table).select(
        "o_orderkey", "o_totalprice", "_row_id"
    )


# --------------------------------------------------------------------------
# Token-budget corpus selection: highest-quality documents first until a
# global token budget is spent (the "best N billion tokens" curation step)
# --------------------------------------------------------------------------
_TB_BUDGET = 10_000
_TB_CELLS = 32


@query(
    "sample_token_budget",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / length(text), 6) AS quality
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
               AS cum_tokens
      FROM t)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= {_TB_BUDGET}
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation: keep the highest-quality docs until the running
    token total hits the budget.  The global quality-ordered prefix sum
    runs WITHOUT a global-order window (the pack_sequences two-pass
    shape): quality maps monotonically onto a coarse cell, per-cell token
    totals (constant driver state) become broadcast exclusive offsets,
    and a cell-keyed window forms the local running sum — cell-local
    cumsum + cell offset IS the global prefix sum because equal qualities
    share a cell.  At extreme quality skew the cells would instead come
    from a sampled-quantile binning pass; the shape is unchanged."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("quality"),
    )
    # higher quality → lower cell, so ascending cell order = descending quality
    t2 = t.withColumn(
        "_cell",
        F.least(
            F.lit(_TB_CELLS - 1),
            F.floor((1 - F.col("quality")) * _TB_CELLS).cast("int"),
        ),
    )
    cells = t2.groupBy("_cell").agg(F.sum("n_tokens").alias("tok")).collect()
    offsets, running = [], 0
    for row in sorted(cells, key=lambda r: r["_cell"]):
        offsets.append((int(row["_cell"]), running))
        running += int(row["tok"])
    off_df = local_frame(spark, offsets, "_cell int, _off bigint")
    w = (
        W.partitionBy("_cell")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t2.join(F.broadcast(off_df), "_cell")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            (F.sum("n_tokens").over(w) + F.col("_off"))
            .cast("bigint")
            .alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _TB_BUDGET)
    )


# --------------------------------------------------------------------------
# Data-quality expectations report (read-side audit; write-side enforcement
# is the Delta sink's CHECK constraints)
# --------------------------------------------------------------------------
@query(
    "data_quality_report",
    oracle="""
    SELECT 'qty_range' AS rule,
           CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
             AS violations,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'discount_range',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.08) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           CAST(COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_fk',
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations audit: four boolean rules evaluated in ONE conditional
    aggregate pass over the fact (operators/quality.py — no per-rule
    scans), plus a foreign-key orphan check as an anti-join, unioned into
    the tidy (rule, violations, n_rows) report.  The oracle recomputes
    each rule independently."""
    from lakehouse_loader_spark.operators import quality as QL

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    report = QL.expectations_report(
        li,
        {
            "qty_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            "discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.08),
            "price_positive": F.col("l_extendedprice") <= 0,
            "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R"),
        },
    )
    fk = QL.referential_violations(li, o, "l_orderkey", "o_orderkey", "orderkey_fk")
    return report.unionByName(fk)


@query(
    "iceberg_stats_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 2000 AND 2500
    """,
)
def iceberg_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-bounds data skipping under the correctness gate: orders
    staged as an Iceberg table in range-disjoint files (repartitionByRange
    on the key), then a range read plans from the manifests' recorded
    lower/upper_bounds — files whose key range cannot intersect are never
    opened — with the exact row filter applied on top."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        IC.write_iceberg(orders.repartitionByRange(6, "o_orderkey"), table)

    table = stage(spark, ("iceberg_stats_pruned_scan", sf_dir), build)
    return IC.read_iceberg_stats_pruned(spark, table, "o_orderkey", 2000, 2500).filter(
        F.col("o_orderkey").between(2000, 2500)
    )


@query(
    "iceberg_compound_pruned_scan",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                         AND TIMESTAMP '1995-12-31 23:59:59'
      AND l_orderkey BETWEEN 1000 AND 4000
      AND l_quantity >= 25.0
    """,
)
def iceberg_compound_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general scan path (r6, sinks/iceberg.py:plan_iceberg_scan):
    lineitem staged as an Iceberg table hidden-partitioned by
    month(l_shipdate) AND range-clustered on l_orderkey, then a compound
    AND-of-predicates read — the date range prunes partitions exactly
    through the month transform, the key range prunes surviving files via
    manifest bounds, the quantity predicate stays residual-only, and all
    three re-apply exactly row-level.  At 100 TB this is the planner
    every ad-hoc query rides: transform-aware partition pruning + file
    skipping from ONE metadata read, no data touched to plan."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
        )
        IC.write_iceberg(
            li.repartitionByRange(4, "l_orderkey").sortWithinPartitions("l_orderkey"),
            table,
            partition_by=["month(l_shipdate)"],
        )

    table = stage(spark, ("iceberg_compound_pruned_scan", sf_dir), build)
    return IC.read_iceberg_scan(
        spark,
        table,
        [
            ("l_shipdate", "between", "1995-01-01T00:00:00", "1995-12-31T23:59:59"),
            ("l_orderkey", "between", 1000, 4000),
            ("l_quantity", ">=", 25.0),
        ],
        ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"],
    )


@query(
    "iceberg_maintenance_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 < 5 AND o_orderkey % 100 >= 10
    """,
)
def iceberg_maintenance_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 maintenance ops under the correctness gate: stage orders
    (o_orderkey%10 < 5) as an Iceberg table partitioned by a status-derived
    bucket, fragment it with three more appends, MOR-delete the
    o_orderkey%100 < 10 slice, then run OPTIMIZE WHERE over one partition
    (materializing the deletes it touches), rewrite_manifests to collapse
    the commit-per-append metadata, and read the final table — which must
    equal the plain SQL the maintenance must never change."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        base = o.filter(F.col("o_orderkey") % 10 < 5)
        IC.write_iceberg(
            base.filter(F.col("o_orderkey") % 10 == 0).coalesce(2),
            table,
            partition_by=["o_orderstatus"],
        )
        for m in (1, 2, 3, 4):
            IC.write_iceberg(
                base.filter(F.col("o_orderkey") % 10 == m).coalesce(2),
                table,
                append=True,
            )
        IC.delete_from_iceberg(
            spark, table, "o_orderkey % 100 < 10", strategy="merge-on-read"
        )
        # consolidate the commit-per-append manifests FIRST (after OPTIMIZE
        # the snapshot would hold one manifest and the rewrite would no-op),
        # then the scoped compaction runs over the consolidated metadata
        res = IC.rewrite_manifests(table)
        assert res["manifests_after"] < res["manifests_before"]
        IC.optimize_iceberg(spark, table, where=[("o_orderstatus", "=", "F")])

    table = stage(spark, ("iceberg_maintenance_scan", sf_dir), build)
    return IC.read_iceberg(spark, table).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "delta_compound_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE (o_orderstatus = 'F' OR o_orderstatus = 'P')
      AND o_orderkey BETWEEN 500 AND 5000
      AND o_totalprice >= 50000.0
    """,
)
def delta_compound_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta twin of iceberg_compound_pruned_scan (r6,
    sinks/delta.py:plan_delta_scan): orders staged as a Delta table
    partitioned by o_orderstatus and range-clustered on o_orderkey, then a
    CNF scan — the status OR-group prunes partitions exactly, the key
    range prunes surviving files via Add-action stats, the price predicate
    stays residual-only, and all three re-apply exactly row-level.  One
    log replay plans the whole scan."""
    from lakehouse_loader_spark.sinks import delta as DL

    def build(table: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        DL.write_delta(
            o.repartitionByRange(4, "o_orderkey").sortWithinPartitions("o_orderkey"),
            table,
            partition_by=["o_orderstatus"],
        )

    table = stage(spark, ("delta_compound_pruned_scan", sf_dir), build)
    return DL.read_delta_scan(
        spark,
        table,
        [
            [("o_orderstatus", "=", "F"), ("o_orderstatus", "=", "P")],
            ("o_orderkey", "between", 500, 5000),
            ("o_totalprice", ">=", 50000.0),
        ],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )


@query(
    "iceberg_equality_delete_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 < 8 AND o_orderkey % 1000 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(-1.0 AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 1000 = 0 AND o_orderkey % 10 < 8
    """,
)
def iceberg_equality_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality deletes under the correctness gate: stage orders as an
    Iceberg table, DELETE-BY-KEY every o_orderkey divisible by 1000
    (content=2 file of key values — no table scan), then RE-APPEND those
    keys with o_totalprice = -1.  The sequence-aware anti-join must drop
    only the pre-delete rows: the oracle is the original rows minus the
    keys plus the re-inserts — the streaming-upsert read semantic."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        staged = orders.filter(F.col("o_orderkey") % 10 < 8)
        IC.write_iceberg(staged.repartition(4), table)
        keys = staged.filter(F.col("o_orderkey") % 1000 == 0).select("o_orderkey")
        IC.equality_delete_iceberg(spark, table, keys)
        reinserts = staged.filter(F.col("o_orderkey") % 1000 == 0).select(
            "o_orderkey", "o_custkey", F.lit(-1.0).alias("o_totalprice")
        )
        IC.write_iceberg(reinserts, table, append=True)

    table = stage(spark, ("iceberg_equality_delete_scan", sf_dir), build)
    return IC.read_iceberg(spark, table)


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# --------------------------------------------------------------------------
@query(
    "sample_weighted_priority",
    oracle=f"""
    SELECT doc_id, source, CAST(length(text) AS BIGINT) AS wt,
           {SA.weighted_priority_sql('doc_id', 'length(text)')} AS priority
    FROM documents
    WHERE length(text) > 0
    ORDER BY priority ASC, doc_id ASC
    LIMIT 100
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents sampled ∝ length WITHOUT replacement via deterministic
    Efraimidis–Spirakis priorities (operators/sampling.py:weighted_sample)
    — the quality-weighted curation draw.  The md5-derived uniform makes
    the draw a pure function of the key (retry/backfill-stable), the
    orderBy+limit compiles to TakeOrderedAndProject (per-partition local
    top-n, no global sort), and the oracle recomputes the identical
    priorities in SQL — an exact match, not a distribution test."""
    docs = load_table(spark, sf_dir, "documents")
    out = SA.weighted_sample(
        docs.withColumn("wt", F.length("text").cast("bigint")),
        "doc_id", "wt", n=100,
    )
    return out.select("doc_id", "source", "wt", "priority")


# --------------------------------------------------------------------------
# Iceberg table statistics (ANALYZE -> Puffin theta NDV)
# --------------------------------------------------------------------------
@query(
    "iceberg_analyze_ndv",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv,
           TRUE AS within_bound
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT), TRUE
    FROM orders
    ORDER BY column_name
    """,
)
def iceberg_analyze_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE under the correctness gate: orders staged as Iceberg,
    analyze_iceberg writes per-column theta-NDV Puffin statistics and
    registers them in the metadata; the query re-reads the registered
    blob properties and certifies each estimate against the exact
    distinct count (±2%, far beyond the sketch's published bound at these
    cardinalities) — same bounded-oracle contract as the sketch
    aggregates.  ANALYZE itself is one distributed pass; the driver holds
    KB of sketch state."""
    from lakehouse_loader_spark.sinks import iceberg as IC

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        IC.write_iceberg(orders.repartition(4), table)
        IC.analyze_iceberg(spark, table, columns=["o_custkey", "o_orderstatus"])

    table = stage(spark, ("iceberg_analyze_ndv", sf_dir), build)
    # read the REGISTERED statistics back (metadata -> blob properties)
    stats = IC.table_statistics(table)[-1]
    field_names = {
        f["id"]: f["name"]
        for f in IC._read_metadata(table)[1]["schemas"][0]["fields"]
    }
    est_rows = [
        (field_names[b["fields"][0]], int(b["properties"]["ndv"]))
        for b in stats["blob-metadata"]
    ]
    est = local_frame(spark, est_rows, "column_name string, ndv long")
    exact = (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.countDistinct("o_custkey").alias("o_custkey"),
            F.countDistinct("o_orderstatus").alias("o_orderstatus"),
        )
        .selectExpr(
            "stack(2, 'o_custkey', o_custkey, 'o_orderstatus', o_orderstatus) "
            "AS (column_name, exact_ndv)"
        )
    )
    return (
        est.join(exact, "column_name")
        .select(
            "column_name",
            F.col("exact_ndv").cast("bigint").alias("exact_ndv"),
            (
                F.abs(F.col("ndv") - F.col("exact_ndv"))
                <= F.greatest(F.lit(1), (F.col("exact_ndv") * 0.02).cast("bigint"))
            ).alias("within_bound"),
        )
        .orderBy("column_name")
    )


# --------------------------------------------------------------------------
# Change Data Feed with persisted cdc files (update pre/post images)
# --------------------------------------------------------------------------
@query(
    "delta_cdf_update_images",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS price,
           'update_preimage' AS _change_type
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4), 'update_postimage'
    FROM orders WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey, _change_type
    """,
)
def delta_cdf_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF write side under the correctness gate: orders staged as a
    CDF-ENABLED Delta table, one UPDATE (+10% price on o_orderkey%100=0),
    then the change feed read back.  Because the table persists cdc files
    (sinks/delta.py:_write_cdc), the feed yields PAIRED update pre/post
    images — the thing the log-diff derivation cannot reconstruct — and
    the oracle recomputes both images straight from the source rows."""
    from lakehouse_loader_spark.sinks import delta as DL

    def build(table: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        DL.write_delta(orders, table)
        DL.enable_change_data_feed(table)
        DL.update_delta(
            spark, table, "o_orderkey % 100 = 0",
            {"o_totalprice": "o_totalprice * 1.1"},
        )

    table = stage(spark, ("delta_cdf_update_images", sf_dir), build)
    since = DL._read_log(table)[0] - 1
    return (
        DL.read_delta_changes(spark, table, since_version=since)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
            "_change_type",
        )
        .orderBy("o_orderkey", "_change_type")
    )
