"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Every variant is a composition of scale-out primitives:

- exact:          one shuffle on a uniform 128-bit content hash
- ngram jaccard:  shingle-explode → equi-join on shingle → pair aggregate
                  (only pairs sharing ≥1 shingle are ever materialized)
- minhash LSH:    signature → band-explode → bucket equi-join → exact verify
                  (candidate generation is linear in Σ bucket_size², bounded
                  by banding; the O(n²) all-pairs compare never happens)
- simhash:        64-bit weighted bit-vote → band equi-join on 16-bit chunks
                  → hamming verify (any pair within distance d shares ≥1 of
                  4 chunks by pigeonhole)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document (JVM-side transform)."""
    toks = F.split(F.col(text_col), r"\s+")
    kgram = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    # sequence(1, n) DESCENDS for n < 1 instead of yielding [], so guard
    # short documents explicitly
    return df.withColumn(
        "shingles",
        F.when(F.size(toks) >= k, F.array_distinct(kgram)).otherwise(
            F.array().cast("array<string>")
        ),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by content hash; keep the lowest id as canonical."""
    return docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("content_hash")).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the verification truth minhash approximates)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    k: int = 3,
    shingled: DataFrame | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-k-gram Jaccard ≥ threshold, via shingle-join:
    PPJoin prefix-filter candidates, then exact verification.

    Scale shape — materialize, don't cache (VERDICT r6 item 3): the
    shingle frame feeds several subtrees (df-rank, both prefix-join sides,
    both verify sides), so it is materialized ONCE to session-scoped
    scratch parquet and every consumer runs a column-pruned scan of the
    files; see ``materialize_shared`` for why persist (session-lifetime
    executor-memory pinning) and recompute (1.8× at sf0.1) both lose.

    ``shingled``: an already-materialized (id_col, sh_h) hashed-shingle
    frame (e.g. queries/staging.py's session-staged scan) — the internal
    shingle pass and scratch write are skipped; the frame MUST be a scan
    of materialized files, not a lazy plan, or every consumer subtree
    re-executes it.

    ``ranked``: an already-materialized (doc, rare_first) corpus-rarity-
    ordered shingle frame (queries/staging.py:staged_rarity_ranked) — the
    PPJoin prefix INDEX (identical derivation to the inline build below),
    skipping the explode + document-frequency + sort shuffles per call.
    Candidate generation and exact verification still run here."""
    from lakehouse_loader_spark.operators import materialize_shared, spread as _spread

    # work on 64-bit shingle hashes: 8-byte keys instead of ~20-byte strings
    # (collision odds ≈ n²/2⁶⁴ over the corpus — negligible)
    if shingled is not None:
        sh = shingled.select(F.col(id_col).alias("doc"), "sh_h")
    else:
        sh = materialize_shared(
            with_shingles(_spread(docs), k=k).select(
                F.col(id_col).alias("doc"),
                F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_h"),
            ),
            "shingles",
        )

    # PPJoin-style prefix filtering (exactness-preserving candidate
    # pruning): order every document's shingles by GLOBAL rarity, and only
    # explode the first |s| - ⌈t·|s|⌉ + 1 of them — any pair with jaccard ≥
    # t must share at least one prefix element under a common total order.
    # Joining on rare-first prefixes collapses the Σ df² blowup that common
    # shingles cause in a naive shingle join.
    if ranked is None:
        ex = sh.select("doc", F.explode("sh_h").alias("h"))
        dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            ex.join(dfreq, "h")
            .groupBy("doc")
            .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"))
            .select(
                "doc",
                F.transform("ordered", lambda s: s.getField("h")).alias("rare_first"),
            )
        )
    n = F.size("rare_first")
    # epsilon guard: double t*n can land 1 ulp ABOVE an exact integer
    # (e.g. 0.56*25 = 14.000000000000002), overshooting ceil and shortening
    # the prefix below the exactness bound; biasing down errs toward a
    # LONGER prefix, which is always safe
    prefix_len = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    prefix = ranked.select(
        "doc",
        n.alias("sz"),
        F.explode(F.slice("rare_first", 1, prefix_len)).alias("h"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # length filter (exactness-preserving): jaccard ≥ t ⇒ |a∩b| ≤ min(|a|,|b|)
    # and |a∪b| ≥ max(|a|,|b|) ⇒ t ≤ min/max ⇒ sizes within factor t of each
    # other.  The epsilon biases toward KEEPING borderline pairs — safe.
    size_ok = (
        F.col("b.sz").cast("double") >= F.lit(threshold) * F.col("a.sz") - F.lit(1e-9)
    ) & (F.col("a.sz").cast("double") >= F.lit(threshold) * F.col("b.sz") - F.lit(1e-9))
    cands = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")) & size_ok,
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    # exact verification of candidates only (scratch scans, no recompute)
    sa = sh.select(F.col("doc").alias("doc_a"), F.col("sh_h").alias("set_a"))
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("sh_h").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_near_duplicates(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    shingled: DataFrame | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an EXISTING corpus — the
    realistic ingest shape: an arriving shard is deduped against what's
    already in the lake, not all-pairs over the union.  Returns
    (new_doc, corpus_doc, jaccard) with word-k-gram Jaccard ≥ threshold.

    Scale shape mirrors ngram_jaccard_pairs (PPJoin prefix filter + length
    filter + exact verify) with one structural change: the candidate join
    pairs CORPUS prefixes against BATCH prefixes only — batch-internal and
    corpus-internal pairs never form, so candidate volume is ~|batch|-
    proportional, not |union|².  Shingle rarity statistics are computed
    over the union (rarity must reflect the corpus the batch joins).
    batch-vs-batch dedup remains ngram_jaccard_pairs on the batch alone.

    ``shingled``: an already-materialized (id_col, _side, sh_h) tagged
    hashed-shingle frame covering corpus (_side=0) ∪ batch (_side=1) —
    skips the internal union+shingle pass and scratch write (the rarity
    statistics below run over the SAME union either way).

    ``ranked``: an already-materialized (doc, _side, rare_first) frame —
    the union-rarity-ordered PPJoin prefix index
    (queries/staging.py:staged_rarity_ranked plus the caller's side tag;
    the union here IS the whole staged corpus, so the statistics are
    identical) — skipping the explode + document-frequency + sort
    shuffles per call.  Candidate generation and verification still run
    here."""
    from lakehouse_loader_spark.operators import materialize_shared, spread as _spread

    if shingled is not None:
        sh = shingled.select(F.col(id_col).alias("doc"), "_side", "sh_h")
    else:
        tagged = corpus.select(
            F.col(id_col), F.col(text_col), F.lit(0).alias("_side")
        ).unionByName(
            batch.select(F.col(id_col), F.col(text_col), F.lit(1).alias("_side"))
        )
        # materialize-don't-cache (VERDICT r6 item 3, same shape as
        # ngram_jaccard_pairs): one scratch-parquet write, every consumer a
        # column-pruned scan — nothing pinned post-query (materialize_shared)
        sh = materialize_shared(
            with_shingles(_spread(tagged), k=k).select(
                F.col(id_col).alias("doc"),
                "_side",
                F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_h"),
            ),
            "shingles-inc",
        )

    if ranked is None:
        ex = sh.select("doc", "_side", F.explode("sh_h").alias("h"))
        dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            ex.join(dfreq, "h")
            .groupBy("doc", "_side")
            .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"))
            .select(
                "doc",
                "_side",
                F.transform("ordered", lambda s: s.getField("h")).alias("rare_first"),
            )
        )
    n = F.size("rare_first")
    prefix_len = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    prefix = ranked.select(
        "doc",
        "_side",
        n.alias("sz"),
        F.explode(F.slice("rare_first", 1, prefix_len)).alias("h"),
    )
    c = prefix.filter(F.col("_side") == 0).alias("c")
    b = prefix.filter(F.col("_side") == 1).alias("b")
    size_ok = (
        F.col("b.sz").cast("double") >= F.lit(threshold) * F.col("c.sz") - F.lit(1e-9)
    ) & (F.col("c.sz").cast("double") >= F.lit(threshold) * F.col("b.sz") - F.lit(1e-9))
    cands = (
        c.join(b, (F.col("c.h") == F.col("b.h")) & size_ok)
        .select(F.col("b.doc").alias("new_doc"), F.col("c.doc").alias("corpus_doc"))
        .distinct()
    )

    sc = sh.filter(F.col("_side") == 0).select(
        F.col("doc").alias("corpus_doc"), F.col("sh_h").alias("set_c")
    )
    sb = sh.filter(F.col("_side") == 1).select(
        F.col("doc").alias("new_doc"), F.col("sh_h").alias("set_b")
    )
    inter = F.size(F.array_intersect("set_b", "set_c"))
    union = F.size("set_b") + F.size("set_c") - inter
    return (
        cands.join(sb, "new_doc")
        .join(sc, "corpus_doc")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc", "corpus_doc", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Fixed-seed affine permutations over the 31-bit Mersenne prime:
# h_j(x) = (a_j*x + b_j) mod P.  31-bit operands keep every intermediate
# product < 2^62, inside int64 — no silent wraparound.
MINHASH_PRIME = (1 << 31) - 1


def _hash_params(num: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameter pairs via an LCG — no RNG state."""
    params = []
    s = seed
    for _ in range(num):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (s % (MINHASH_PRIME - 1)) + 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = s % MINHASH_PRIME
        params.append((a, b))
    return params


def with_hashed_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word-k-gram shingles as 64-bit xxhash64 values (``sh_h``):
    8-byte keys instead of ~20-byte strings for every downstream shuffle /
    intersect (collision odds ≈ n²/2⁶⁴ over the corpus — negligible)."""
    return with_shingles(df, text_col=text_col, k=k).select(
        "*", F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_h")
    ).drop("shingles")


def _minhash_kernel(num_hashes: int):
    """``one(hv) -> np.ndarray``: the ``num_hashes``-wide signature of one
    document's shingle hashes ``hv`` (int64, already reduced into the
    31-bit field) — the 128 affine permutations + mins as ONE (num_hashes,
    n_shingles) numpy broadcast.  The pandas UDF and the driver regime
    (:func:`minhash_signature_matrix`) both call it, so the two cannot
    drift apart."""
    params = _hash_params(num_hashes)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def one(hv: np.ndarray) -> np.ndarray:
        # products < 2^62: exact in int64, no overflow
        return ((hv[None, :] * a_vec + b_vec) % MINHASH_PRIME).min(axis=1)

    return one


def with_minhash_signature(
    df: DataFrame, num_hashes: int = 128, shingle_col: str = "shingles"
) -> DataFrame:
    """128-wide MinHash signature over the shingle column (strings, or
    64-bit hashes from ``with_hashed_shingles`` — both produce the same
    signature because string shingles are xxhash64-ed first anyway).

    Hybrid JVM/Arrow split: shingle hashing stays JVM-side (xxhash64 → pmod
    into the 31-bit prime field), then :func:`_minhash_kernel` runs per
    document inside an Arrow-batched pandas UDF — integer math is exact,
    so the result is bit-identical to a per-element fold but ~20× faster
    (the fold is interpreted per element; the UDF is a (128, n_shingles)
    matrix op).  An empty or null shingle set signs as all-``MINHASH_PRIME``.
    Small staged corpora skip the UDF (and its Python workers) altogether:
    ``queries/staging.py:staged_minhash_sigs`` signs them on the driver with
    :func:`minhash_signature_matrix`, the same kernel."""
    from pyspark.sql.functions import pandas_udf

    one = _minhash_kernel(num_hashes)
    empty_sig = [MINHASH_PRIME] * num_hashes

    @pandas_udf("array<long>")
    def sig_udf(base: pd.Series) -> pd.Series:
        def sig(h):
            if h is None or len(h) == 0:
                return empty_sig
            return one(np.asarray(h, dtype=np.int64)).tolist()

        return base.map(sig)

    col = F.col(shingle_col)
    field = next(f for f in df.schema.fields if f.name == shingle_col)
    if field.dataType.elementType.typeName() == "string":
        hashed = F.transform(col, lambda s: F.xxhash64(s))
    else:
        hashed = col
    base = F.transform(hashed, lambda h: F.pmod(h, F.lit(MINHASH_PRIME)))
    return df.withColumn("minhash_sig", sig_udf(base))


def minhash_signature_matrix(
    hashes: np.ndarray, lengths: np.ndarray, num_hashes: int = 128
) -> np.ndarray:
    """The driver form of :func:`with_minhash_signature` over 64-bit
    shingle hashes: ``hashes`` is every document's ``sh_h`` concatenated
    (int64, any sign), ``lengths`` each document's share of it (all ≥ 1).
    Returns the (n_docs, num_hashes) int64 signature matrix, row i equal
    to the UDF's signature of document i: ``np.mod`` by the positive prime
    floors exactly as Spark's ``pmod`` does, then the shared kernel."""
    one = _minhash_kernel(num_hashes)
    field = np.mod(hashes, MINHASH_PRIME)
    ends = np.cumsum(lengths)
    out = np.empty((len(lengths), num_hashes), dtype=np.int64)
    for i, (start, end) in enumerate(zip(ends - lengths, ends)):
        out[i] = one(field[start:end])
    return out


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingled: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands, hash each band,
    equi-join on (band_id, band_hash).  32 bands × 4 rows ⇒ P(candidate) =
    1-(1-j⁴)³² — ≈1 for j ≥ 0.8, tiny for j ≤ 0.2.

    Returns distinct (doc_a, doc_b) candidate pairs, doc_a < doc_b.
    ``shingled`` lets a caller pass a pre-computed (persisted) shingle DF so
    candidate generation and verification share one pass; ``signatures``
    goes one step further — an already-materialized (id_col, minhash_sig)
    frame (queries/staging.py) skips the signature UDF pass entirely and
    banding runs straight off the 1-KB signature rows."""
    from lakehouse_loader_spark.operators import spread

    rows_per_band = num_hashes // bands
    if signatures is not None:
        sig = signatures.select(F.col(id_col).alias("doc"), "minhash_sig")
    else:
        if shingled is None:
            shingled = with_hashed_shingles(spread(docs))
        shingle_col = "sh_h" if "sh_h" in shingled.columns else "shingles"
        # docs with no shingles (< k tokens) all share the empty signature
        # and would pair quadratically in every band — they can't be
        # near-dups by this measure, so drop them before banding
        shingled = shingled.filter(F.size(shingle_col) > 0)
        sig = with_minhash_signature(
            shingled, num_hashes, shingle_col=shingle_col
        ).select(F.col(id_col).alias("doc"), "minhash_sig")
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bnd: F.struct(
            bnd.alias("band_id"),
            F.xxhash64(F.concat_ws(",", F.slice("minhash_sig", bnd * rows_per_band + 1, rows_per_band)))
            .alias("band_hash"),
        ),
    )
    buckets = sig.select("doc", F.explode(band_arr).alias("b")).select(
        "doc", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    k: int = 3,
    shingled: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: LSH candidates, then EXACT jaccard verification of
    candidates only (join back to shingle sets, array_intersect sizes).
    Output matches exact all-pairs jaccard ≥ threshold whenever banding
    recall is 1 at the threshold (32×4 banding: P(miss | j=0.8) ≈ 1e-7).

    ``shingled``/``signatures``: already-materialized per-document
    artifacts (queries/staging.py) — with both, the query is banding +
    bucket join + exact verify over columnar scans, no text pass at all
    (the shape a production corpus with a persisted signature table
    runs)."""
    from lakehouse_loader_spark.operators import materialize_shared, spread

    if shingled is None:
        # hash-shingle ONCE into session-scoped scratch parquet: the three
        # consumers (signature computation + both exact-verify sides) each
        # run a column-pruned scan of the materialized files instead of
        # re-running the tokenize+hash scan (plain recompute measured 3.1×
        # slower at sf0.1) — and unlike the former persist() (VERDICT r6
        # item 3), nothing stays pinned post-query
        shingled = materialize_shared(
            # project before the write: only (id, hashes) hit scratch
            with_hashed_shingles(spread(docs), k=k).select(id_col, "sh_h"),
            "shingles-mh",
        )
    cands = minhash_candidate_pairs(
        docs, id_col=id_col, shingled=shingled, signatures=signatures
    )
    sh = shingled.select(F.col(id_col).alias("doc"), "sh_h")
    sa = sh.select(F.col("doc").alias("doc_a"), F.col("sh_h").alias("sh_a"))
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("sh_h").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(
    df: DataFrame, text_col: str = "text", bits: int = 64, hash_fn: str = "xxhash64"
) -> DataFrame:
    """SimHash over whitespace tokens: each token votes its hash bit
    pattern; the fingerprint's bit i is 1 iff the weighted vote is
    positive.  Pure higher-order functions, one pass.

    ``hash_fn``: "xxhash64" (default — cheapest, 64 bits, production path)
    or "md5_60" (first 60 bits of md5 hex via base-16 conv — slightly
    costlier but computable bit-for-bit in any SQL engine, which is what
    makes the DuckDB oracle for dedup_simhash possible; use bits=60)."""
    from pyspark.sql.functions import pandas_udf

    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    if hash_fn == "md5_60":
        hashes = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
        )
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def simhash_udf(hs: pd.Series) -> pd.Series:
        def one(h):
            if h is None or len(h) == 0:
                return 0
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)[:, None]
            votes = (((hv >> shifts) & 1).astype(np.int64) * 2 - 1).sum(axis=0)
            packed = np.uint64(0)
            packed = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            return int(packed.astype(np.int64))

        return hs.map(one)

    # token hashing stays JVM-side (xxhash64); the 64 bit-votes collapse to
    # one numpy matrix op per document in an Arrow-batched UDF
    return df.withColumn("simhash", simhash_udf(hashes))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
    fingerprinted: DataFrame | None = None,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips, found scalably: split the
    fingerprint into 4 equal chunks; by pigeonhole any pair within
    hamming ≤ 3 agrees exactly on ≥1 chunk → equi-join per chunk, then
    verify with bit_count(xor).  ``bits``/``hash_fn`` select the
    fingerprint family (see with_simhash); chunk width = bits/4.

    ``fingerprinted``: an already-materialized (id_col, simhash) frame
    with blank docs excluded (queries/staging.py) — banding and verify
    then run over 16-byte rows with no text pass."""
    from lakehouse_loader_spark.operators import spread

    chunk_bits = bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    if fingerprinted is not None:
        sh = fingerprinted.select(F.col(id_col).alias("doc"), "simhash")
    else:
        sh = (
            with_simhash(spread(docs), bits=bits, hash_fn=hash_fn)
            # empty/whitespace-only docs all hash to 0 and would pair
            # quadratically; they're exact-dup territory, not simhash's
            .filter(F.trim(F.col("text")) != "")
            .select(F.col(id_col).alias("doc"), "simhash")
        )
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                .bitwiseAND(F.lit(chunk_mask))
                .alias("chunk_val"),
            )
            for i in range(4)
        ]
    )
    keyed = sh.select("doc", "simhash", F.explode(chunks).alias("c")).select(
        "doc",
        "simhash",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_val").alias("chunk_val"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Substring-level repeated-span detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": exact-substring dedup at
# span granularity rather than document granularity).
# ---------------------------------------------------------------------------


def repeated_ngram_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal token spans whose word-k-grams repeat ≥ ``min_count`` times
    corpus-wide — the distributed stand-in for suffix-array substring dedup.

    Scale shape (all shuffles on uniform keys):
      1. hash each token ONCE, then form each k-gram's hash from k integer
         token-hashes (xxhash64 over k long columns) — no per-position
         k-word string rebuild; O(n) token hashing + O(n·k) integer
         hashing, all map-side inside whole-stage codegen
      2. corpus-wide gram frequency as a COUNT window over the gram hash
         (one shuffle on the 64-bit key; the gram stream is built exactly
         once — a groupBy+join-back shape would recompute or cache it)
      3. per-doc gaps-and-islands merge of overlapping hits into maximal
         spans                                         (shuffle on doc id)

    Positions are 1-based; span bounds are inclusive token indices.
    Output: (doc_id, span_start, span_end, span_tokens, n_dup_grams),
    deterministic.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    with_tokh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("th"),
    )
    th = F.col("th")
    kgram_hashes = F.when(
        F.size(th) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(th) - (k - 1)),
            lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = with_tokh.select(
        "doc_id", F.posexplode(kgram_hashes).alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "h")

    wh = W.partitionBy("h")
    hits = (
        grams.withColumn("n", F.count(F.lit(1)).over(wh))
        .filter(F.col("n") >= min_count)
        .select("doc_id", "pos")
    )

    w = W.partitionBy("doc_id").orderBy("pos")
    # spans [pos, pos+k-1] merge while consecutive hits are ≤ k apart
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    islands = hits.withColumn("island", F.sum(brk).over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "n_dup_grams")
    )
