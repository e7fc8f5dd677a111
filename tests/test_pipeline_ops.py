"""Unit tests for the training-pipeline operators (sampling/splits, quality
signals, PII redaction, normalization) — the properties the SQL oracles
can't check: determinism, stability under data growth, redaction on planted
PII."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_loader_spark.operators import sampling as SA
from lakehouse_loader_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"doc {i} body text with words number {i % 7}") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_hash_sample_is_deterministic_and_fractional(spark, docs):
    a = {r.doc_id for r in SA.hash_sample(docs, "doc_id", 0.3, "s").collect()}
    b = {r.doc_id for r in SA.hash_sample(docs, "doc_id", 0.3, "s").collect()}
    assert a == b  # pure function of the key — retry-stable
    assert 0.15 < len(a) / 200 < 0.45  # md5 uniformity at n=200
    # different salt ⇒ an independent draw, not the same subset
    c = {r.doc_id for r in SA.hash_sample(docs, "doc_id", 0.3, "other").collect()}
    assert c != a


def test_split_is_exhaustive_and_stable_under_growth(spark, docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r.doc_id: r.split for r in SA.with_split(docs, "doc_id", w).collect()}
    assert set(full.values()) == {"train", "val", "test"}
    # growing the corpus never reassigns an existing row
    half = docs.filter(F.col("doc_id") < 100)
    small = {r.doc_id: r.split for r in SA.with_split(half, "doc_id", w).collect()}
    assert all(full[k] == v for k, v in small.items())
    frac_train = sum(1 for v in full.values() if v == "train") / len(full)
    assert 0.65 < frac_train < 0.95


def test_quota_per_group_caps_and_orders(spark):
    rows = [(i, f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, grp STRING")
    out = SA.quota_per_group(df, "grp", "doc_id", 5).collect()
    per = {}
    for r in out:
        per.setdefault(r.grp, []).append(r.sample_rank)
    assert set(per) == {"g0", "g1", "g2"}
    for ranks in per.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_pii_redaction_on_planted_pii(spark):
    rows = [
        (1, "contact bob.smith+x@example.co.uk or call 555-123-4567 now"),
        (2, "server at 10.0.255.1 and 192.168.1.254 responded"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in T.with_pii_redaction(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].clean_text and "<PHONE>" in out[1].clean_text
    assert "example" not in out[1].clean_text
    assert out[2].n_ips == 2 and out[2].clean_text.count("<IP>") == 2
    assert out[3].clean_text == "no pii here at all"
    assert out[3].n_emails == out[3].n_phones == out[3].n_ips == 0


def test_normalized_dedup_catches_reformatted_copies(spark):
    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),
        (3, "HELLO ... world"),
        (4, "different entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    norm = df.select("doc_id", T.normalized_text_col(F.col("text")).alias("n"))
    vals = {r.doc_id: r.n for r in norm.collect()}
    assert vals[1] == vals[2] == vals[3] == "hello world"
    assert vals[4] != vals[1]


def test_repetition_signals_flag_repeats(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "all tokens here are fully distinct words"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in T.with_repetition_signals(df).collect()}
    assert out[1].dup_2gram_frac > 0.7
    assert out[2].dup_2gram_frac == 0.0 and out[2].dup_3gram_frac == 0.0


def test_gopher_signals_verdict(spark):
    good = " ".join(["the quick brown fox jumps over a lazy dog today"] * 3)  # 30 words, stopwords
    short = "tiny doc"
    bullet = "- " + " ".join(["the word list goes on and on for a while here now"] * 2)
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, bullet)], "doc_id BIGINT, text STRING"
    )
    out = {r.doc_id: r for r in T.with_gopher_signals(df).collect()}
    assert out[1].gopher_keep is True
    assert out[2].gopher_keep is False  # too short
    assert out[3].gopher_keep is False  # bullet start


def test_multimodal_resize_fixed_shape(spark):
    from lakehouse_loader_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [(1, "abcdefgh" * 10), (2, "x"), (3, "")], "doc_id BIGINT, text STRING"
    )
    out = {r.doc_id: r.resized for r in M.resize_features(M.with_binary_payload(df)).collect()}
    assert all(len(v) == M.RESIZE_DIM for v in out.values())  # fixed tensor shape
    assert out[3] == [0.0] * M.RESIZE_DIM  # empty payload → zero vector
    # deterministic: same payload, same vector
    out2 = {r.doc_id: r.resized for r in M.resize_features(M.with_binary_payload(df)).collect()}
    assert out == out2


def test_multimodal_frame_sample_expands_rows(spark):
    from lakehouse_loader_spark.operators import multimodal as M

    # 256-byte payload → 8 frames of 32 → every 4th kept → frames 0 and 4
    df = spark.createDataFrame([(1, "ab" * 128)], "doc_id BIGINT, text STRING")
    rows = M.sample_frames(M.with_binary_payload(df)).collect()
    assert [(r.frame_idx, r.n_frames) for r in sorted(rows, key=lambda r: r.frame_idx)] == [
        (0, 8),
        (4, 8),
    ]
    assert all(len(r.frame) == 32 for r in rows)


def test_asof_join_null_left_ts_matches_nothing(spark):
    """A NULL left timestamp yields NULL payload in BOTH directions —
    forward must not invent a match via an unbounded frame."""
    from lakehouse_loader_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00"), (2, None)], "id BIGINT, lts STRING"
    ).selectExpr("id", "CAST(lts AS TIMESTAMP) AS lts", "'k' AS key")
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", 10.0), ("2024-01-03 00:00:00", 30.0)], "rts STRING, val DOUBLE"
    ).selectExpr("CAST(rts AS TIMESTAMP) AS rts", "val", "'k' AS key")
    for direction, want in (("backward", 10.0), ("forward", 30.0)):
        out = {
            r.id: r.val
            for r in asof_join(
                left, right, key="key", left_ts="lts", right_ts="rts",
                value_cols=["val"], direction=direction,
            ).collect()
        }
        assert out[1] == want, direction
        assert out[2] is None, f"null ts matched in {direction}"


def test_chunk_tokens_covers_every_token_with_exact_overlap(spark):
    """Invariants over a sweep of document lengths 1..300: chunks cover
    [1, n] with no gap, every chunk is ≤ chunk_size tokens, consecutive
    full chunks share exactly `overlap` tokens, and the final chunk ends
    at the last token."""
    C, O = 32, 8
    docs = spark.range(1, 301).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), F.col("id")), lambda i: i.cast("string"))
        ).alias("text"),
    )
    rows = T.chunk_tokens(docs, chunk_size=C, overlap=O).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(1, 301))
    for n, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert chunks[0]["chunk_start"] == 1
        for r in chunks:
            assert 1 <= r["chunk_tokens"] <= C
            assert r["chunk_start"] + r["chunk_tokens"] - 1 <= n
        # coverage: no gap between consecutive chunks; exact overlap when full
        for a, b in zip(chunks, chunks[1:]):
            a_end = a["chunk_start"] + a["chunk_tokens"] - 1
            assert b["chunk_start"] <= a_end + 1
            if a["chunk_tokens"] == C:
                assert a_end - b["chunk_start"] + 1 == O
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_tokens"] - 1 == n


def test_repeated_spans_are_maximal_and_in_bounds(spark):
    """Planted duplication: two docs share an identical 20-token run, one
    doc privately repeats a 10-token run twice.  Spans must (a) stay
    inside the doc, (b) be ≥ k tokens, (c) be separated by ≥ 1 token
    (maximality: touching hits merged), and (d) cover the planted runs."""
    from lakehouse_loader_spark.operators.dedup import repeated_ngram_spans

    k = 8
    shared = " ".join(f"s{i}" for i in range(20))
    rep = " ".join(f"r{i}" for i in range(10))

    def uniq(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    docs = spark.createDataFrame(
        [
            (1, f"{uniq('a', 30)} {shared} {uniq('b', 25)}"),
            (2, f"{uniq('c', 12)} {shared}"),
            (3, f"{uniq('d', 40)} {rep} {uniq('e', 15)} {rep}"),
            (4, uniq("f", 60)),
        ],
        "doc_id long, text string",
    )
    rows = repeated_ngram_spans(docs, k=k).collect()
    lens = {1: 30 + 20 + 25, 2: 12 + 20, 3: 40 + 10 + 15 + 10, 4: 60}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 4 not in by_doc  # all-unique doc has no spans
    assert {1, 2, 3} <= set(by_doc)
    for d, spans in by_doc.items():
        spans.sort(key=lambda r: r["span_start"])
        for s in spans:
            assert 1 <= s["span_start"] <= s["span_end"] <= lens[d]
            assert s["span_tokens"] == s["span_end"] - s["span_start"] + 1 >= k
        for a, b in zip(spans, spans[1:]):
            assert b["span_start"] >= a["span_end"] + 2  # maximal: gap survives
    # the shared 20-token run is covered in both docs
    assert any(s["span_start"] <= 31 and s["span_end"] >= 50 for s in by_doc[1])
    assert any(s["span_start"] <= 13 and s["span_end"] >= 32 for s in by_doc[2])
    # doc 3's private repetition is caught twice (two islands)
    assert len(by_doc[3]) == 2


def test_importance_sample_monotone_in_weight(spark):
    """With weight 1 everything survives; with weight 0 nothing does; and
    the kept set at weight w is a SUBSET of the kept set at w' > w (the
    hash threshold is monotone — no reshuffling between levels)."""
    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    full = SA.importance_sample(docs.withColumn("w", F.lit(1.0)), "doc_id", "w")
    none = SA.importance_sample(docs.withColumn("w", F.lit(0.0)), "doc_id", "w")
    assert full.count() == 2000 and none.count() == 0
    lo = {r.doc_id for r in SA.importance_sample(
        docs.withColumn("w", F.lit(0.2)), "doc_id", "w").collect()}
    hi = {r.doc_id for r in SA.importance_sample(
        docs.withColumn("w", F.lit(0.6)), "doc_id", "w").collect()}
    assert lo <= hi
    assert 0.1 < len(lo) / 2000 < 0.3 and 0.5 < len(hi) / 2000 < 0.7


def test_asof_nearest_picks_closer_side_and_ties_backward(spark):
    from lakehouse_loader_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 1.0), ("k", "2024-01-02 00:00:00", 2.0)],
        "key string, rts string, val double",
    ).select("key", F.col("rts").cast("timestamp").alias("rts"), "val")
    left = spark.createDataFrame(
        [
            (1, "k", "2024-01-01 06:00:00"),  # closer to 01-01 → 1.0
            (2, "k", "2024-01-01 20:00:00"),  # closer to 01-02 → 2.0
            (3, "k", "2024-01-01 12:00:00"),  # exact tie → backward → 1.0
            (4, "k", None),                   # null ts → no match
            (5, "z", "2024-01-01 00:00:00"),  # no right rows for key → null
        ],
        "id long, key string, ts string",
    ).select("id", "key", F.col("ts").cast("timestamp").alias("ts"))
    out = {
        r["id"]: r["val"]
        for r in asof_join(
            left, right, key="key", left_ts="ts", right_ts="rts",
            value_cols=["val"], direction="nearest",
        ).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: 1.0, 4: None, 5: None}


def test_theta_sketch_estimates_within_bounds(spark):
    """The query now SELF-CERTIFIES the 5% error bound in its output (the
    oracle hash-compares `within_bound` against literal TRUE), so the
    pytest checks the exported booleans plus the raw-estimate bound via the
    sketch functions directly (sketch-union over groups vs exact distinct
    over the unioned raw data)."""
    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_ORACLE

    _ensure_loaded()
    rows = {
        r["event_type"]: r
        for r in REGISTRY["agg_sketch_distinct_theta"].fn(spark, SF_ORACLE).collect()
    }
    ev = load_table(spark, SF_ORACLE, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(rows) == set(exact)
    for k, v in exact.items():
        assert rows[k]["exact_users"] == v, (k, rows[k], v)
        assert rows[k]["within_bound"], (k, rows[k])
    # sketch-union across types bounds-matches the exact union cardinality
    union_est = (
        ev.groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
        .agg(F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    assert abs(union_est - exact["__all__"]) <= max(1, 0.05 * exact["__all__"])


def test_kll_sketch_quantiles_and_mergeability(spark):
    """KLL p50/p95 estimates sit within the sketch's rank-error band of the
    exact percentiles, and pairwise kll_sketch_merge of per-group sketches
    estimates the SAME global quantile as sketching all rows at once —
    the mergeability property that makes sketches the scale path."""
    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_ORACLE

    _ensure_loaded()
    rows = {r["o_orderstatus"]: r for r in
            REGISTRY["agg_sketch_quantile_kll"].fn(spark, SF_ORACLE).collect()}
    # the query self-certifies rank error (oracle hash-compares the
    # booleans against TRUE); assert them here too for a local signal
    for k, r in rows.items():
        assert r["p50_rank_ok"] and r["p95_rank_ok"], (k, r)
    o = load_table(spark, SF_ORACLE, "orders")
    exact = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    ).first()
    spread = o.agg((F.max("o_totalprice") - F.min("o_totalprice")).alias("s")).first()["s"]
    # default KLL k=200 → normalized rank error ~1.65%; allow 3% of range
    global_est = o.agg(F.kll_sketch_agg_double("o_totalprice").alias("sk")).select(
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95"),
    ).first()
    assert abs(global_est["p50"] - exact["p50"]) <= 0.03 * spread
    assert abs(global_est["p95"] - exact["p95"]) <= 0.03 * spread
    # mergeability: fold the per-status sketches with the binary merge fn
    merged_est = (
        o.groupBy("o_orderstatus")
        .agg(F.kll_sketch_agg_double("o_totalprice").alias("sk"))
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            F.kll_sketch_get_quantile_double(
                F.reduce(
                    F.expr("slice(sks, 2, size(sks) - 1)"),
                    F.element_at("sks", 1),
                    lambda acc, x: F.kll_sketch_merge_double(acc, x),
                ),
                F.lit(0.5),
            ).alias("p50")
        )
        .first()["p50"]
    )
    assert abs(merged_est - exact["p50"]) <= 0.03 * spread


def test_asof_null_right_ts_never_matches(spark):
    """A right row with NULL timestamp must never match in ANY direction —
    ascending scans sort NULLs first, where an unfiltered null-ts payload
    would become every left row's bogus backward match (and poison the
    nearest-mode distance comparison)."""
    from lakehouse_loader_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k", None, 99.0), ("k", "2024-01-02 00:00:00", 2.0)],
        "key string, rts string, val double",
    ).select("key", F.col("rts").cast("timestamp").alias("rts"), "val")
    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:00"), (2, "k", "2024-01-03 00:00:00")],
        "id long, key string, ts string",
    ).select("id", "key", F.col("ts").cast("timestamp").alias("ts"))
    for direction, want in [
        ("backward", {1: None, 2: 2.0}),
        ("forward", {1: 2.0, 2: None}),
        ("nearest", {1: 2.0, 2: 2.0}),
    ]:
        out = {
            r["id"]: r["val"]
            for r in asof_join(
                left, right, key="key", left_ts="ts", right_ts="rts",
                value_cols=["val"], direction=direction,
            ).collect()
        }
        assert out == want, (direction, out)


def test_expectations_report_counts_null_as_violation(spark):
    from lakehouse_loader_spark.operators.quality import (
        expectations_report,
        referential_violations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, v double"
    )
    rep = {
        r.rule: (r.violations, r.n_rows)
        for r in expectations_report(
            df, {"v_positive": F.col("v") <= 0}
        ).collect()
    }
    # row 3 violates (v <= 0); row 2's NULL comparison is unevaluable → violation
    assert rep == {"v_positive": (2, 3)}

    parent = spark.createDataFrame([(1,), (2,)], "k long")
    child = spark.createDataFrame([(1,), (9,), (None,)], "k long")
    fk = referential_violations(child, parent, "k", "k", "fk").collect()[0]
    # 9 is an orphan; NULL references nothing (SQL FK semantics)
    assert (fk.rule, fk.violations, fk.n_rows) == ("fk", 1, 3)


def test_prefix_sum_queries_leave_no_cache_residue(spark):
    """The two-pass prefix-sum family (pack_sequences, sample_token_budget,
    shuffle_deterministic) must not leave persisted frames behind after the
    result is materialized: a persist referenced by the returned plan leaks
    for the session lifetime (ADVICE r04/r05) — the design recomputes the
    cheap token expression instead of caching."""
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_SMOKE

    _ensure_loaded()
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    for key in ("pack_sequences", "sample_token_budget", "shuffle_deterministic"):
        before = persistent_ids()
        REGISTRY[key].fn(spark, SF_SMOKE).collect()
        leaked = persistent_ids() - before
        assert not leaked, f"{key} left persisted RDDs behind: {leaked}"


def test_hll_sketch_union_matches_exact_within_bounds(spark):
    """HLL mergeability: per-type sketches unioned via hll_union_agg bound
    the exact union cardinality, and the query's self-certified flags hold
    (same contract as the theta test)."""
    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_ORACLE

    _ensure_loaded()
    rows = {
        r["event_type"]: r
        for r in REGISTRY["agg_sketch_distinct_hll"].fn(spark, SF_ORACLE).collect()
    }
    ev = load_table(spark, SF_ORACLE, "events")
    exact_all = ev.select("user_id").distinct().count()
    assert rows["__all__"]["exact_users"] == exact_all
    for r in rows.values():
        assert r["within_bound"], r
    union_est = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    assert abs(union_est - exact_all) <= max(1, 0.05 * exact_all)


def test_weighted_sample_prefers_heavy_rows_and_is_stable(spark):
    """Efraimidis–Spirakis sampling: selection probability ∝ weight (a
    1000:1 weight split must overwhelmingly select heavy rows), the draw
    is deterministic across runs/parallelism, and rows with weight ≤ 0
    never appear."""
    from pyspark.sql import functions as F

    rows = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("k"),
        # ids < 100 are "heavy" (weight 1000), the rest weight 1; two dead rows
        F.when(F.col("id") < 100, 1000).when(F.col("id") >= 1998, 0).otherwise(1).alias("w"),
    )
    out = SA.weighted_sample(rows, "k", "w", n=100, salt="t")
    got = [r.k for r in out.collect()]
    assert len(got) == 100
    heavy = sum(1 for k in got if int(k) < 100)
    # E[heavy] ≈ 98 of 100 under ∝weight; even a loose bound separates it
    # decisively from uniform (which would pick ~5)
    assert heavy > 70
    assert all(int(k) < 1998 for k in got)  # weight-0 rows excluded
    again = [r.k for r in SA.weighted_sample(rows.repartition(16), "k", "w", n=100, salt="t").collect()]
    assert got == again


def test_leakage_safe_split_keeps_neardups_together(spark):
    """The defining invariant: every minhash near-dup pair (j >= 0.8)
    lands in ONE split — a train copy of a test document would be
    contamination.  Also: cluster ids are the component's min member id,
    singletons are their own cluster, and the assignment is a pure
    function (re-running moves nothing)."""
    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.operators.dedup import minhash_near_duplicates
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_ORACLE

    _ensure_loaded()
    fn = REGISTRY["split_leakage_safe"].fn
    out = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in fn(spark, SF_ORACLE).collect()}
    docs = load_table(spark, SF_ORACLE, "documents")
    assert len(out) == docs.count()
    pairs = minhash_near_duplicates(docs, threshold=0.8).collect()
    assert pairs, "testdata plants near-dup pairs"
    for p in pairs:
        ca, sa = out[p["doc_a"]]
        cb, sb = out[p["doc_b"]]
        assert ca == cb, f"near-dups {p['doc_a']},{p['doc_b']} in different clusters"
        assert sa == sb, f"near-dups {p['doc_a']},{p['doc_b']} straddle splits"
        assert ca <= min(p["doc_a"], p["doc_b"])  # cluster id = min member id
    # determinism: second run identical
    out2 = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in fn(spark, SF_ORACLE).collect()}
    assert out2 == out


def test_bpe_train_iterative_pairs_merged_tokens(spark):
    # "aaab": round 1 counts (a,a)x2,(a,b)x1 -> merge aa; round 2 re-counts
    # the RE-TOKENIZED vocab [aa,a,b]: (a,b) ties nothing and wins the
    # (cnt DESC, a, b) order over (aa,a) -> merge ab; round 3 pairs TWO
    # earlier merged tokens (aa,ab) — unreachable for a single counting
    # pass over raw chars, the property that makes the trainer iterative.
    vocab = spark.createDataFrame([("aaab", 1)], "w string, wc long")
    merges = T.bpe_train_merges(vocab, k=5)
    assert [(a, b) for (_r, a, b, _m, _c) in merges] == [
        ("a", "a"),
        ("a", "b"),
        ("aa", "ab"),
    ]
    # runs out of adjacent pairs after 3 merges: k=5 returns only 3
    assert [m[0] for m in merges] == [1, 2, 3]


def test_bpe_merge_fold_is_carry_aware_left_to_right(spark):
    # "aaa" under merge (a,a) -> [aa, a]: the fold must NOT rescan the
    # just-merged token (left-to-right non-overlapping), and the trailing
    # singleton survives.
    one = spark.createDataFrame(
        [("aaa",)], "w string"
    ).crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [([("a", "a")],)], "merges array<struct<a:string,b:string>>"
            )
        )
    )
    [row] = one.select(F.expr(T.BPE_APPLY_MERGES_EXPR).alias("toks")).collect()
    assert row["toks"] == ["aa", "a"]


def test_chunk_token_arrays_matches_chunk_tokens_boundaries(spark, docs):
    # the retrieval-facing sibling must produce the SAME chunks as
    # chunk_tokens: md5 of its token slice == chunk_tokens' chunk_hash,
    # chunk-for-chunk
    hashed = T.chunk_token_arrays(docs, chunk_size=8, overlap=2).select(
        "doc_id",
        "chunk_id",
        F.md5(F.concat_ws(" ", "toks").cast("binary")).alias("h"),
    )
    ref = T.chunk_tokens(docs, chunk_size=8, overlap=2).select(
        "doc_id", F.col("chunk_id"), F.col("chunk_hash").alias("h")
    )
    assert hashed.exceptAll(ref).count() == 0
    assert ref.exceptAll(hashed).count() == 0


def test_feature_hash_embed_is_signed_token_count(spark):
    # dim-slot signed counts: duplicate tokens accumulate, and the total
    # L1 mass equals the token count parity (each token contributes ±1)
    df = spark.createDataFrame(
        [(["x", "x", "y"],), ([],)], "toks array<string>"
    ).select(F.expr(T.feature_hash_expr("toks")).alias("v"))
    rows = {tuple(r["v"]) for r in df.collect()}
    vecs = sorted(rows, key=lambda v: sum(abs(x) for x in v))
    assert sum(abs(x) for x in vecs[0]) == 0  # empty -> zero vector
    assert sum(abs(x) for x in vecs[1]) in (1, 3)  # x,x may cancel y's slot
    assert all(len(v) == 64 for v in rows)


# ---------------------------------------------------------------------------
# Property walks: the iterative BPE trainer and the feature-hash embedding
# against pure-Python references (hypothesis, the test_mirror model-walk
# pattern — max_examples kept small because each example runs Spark jobs)
# ---------------------------------------------------------------------------
import hashlib

from hypothesis import given, settings, strategies as st


def _py_apply_merge(ts, a, b):
    """The carry-aware left-to-right non-overlapping merge fold."""
    out = []
    for t in ts:
        if out and out[-1] == a and t == b:
            out[-1] = a + b
        else:
            out.append(t)
    return out


def _py_train(vocab, k):
    """Reference iterative BPE: weighted pair count -> (cnt DESC, a, b)
    argmax -> re-tokenize, k rounds."""
    toks = {w: list(w) for w in vocab}
    merges = []
    for rank in range(1, k + 1):
        counts = {}
        for w, ts in toks.items():
            for a, b in zip(ts, ts[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + vocab[w]
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        for w in toks:
            toks[w] = _py_apply_merge(toks[w], a, b)
    return merges, toks


_WORDS = st.dictionaries(
    st.text(alphabet="ab", min_size=1, max_size=7),
    st.integers(min_value=1, max_value=5),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(vocab=_WORDS)
def test_bpe_trainer_matches_python_reference(spark, vocab):
    vdf = spark.createDataFrame(list(vocab.items()), "w string, wc long")
    got = T.bpe_train_merges(vdf, k=4)
    want, want_toks = _py_train(vocab, 4)
    assert got == want
    if want:
        # applying the trained merges via the shared SQL fold reproduces
        # the reference trainer's final tokenization word-for-word
        mdf = spark.createDataFrame(
            [([(a, b) for (_r, a, b, _m, _c) in got],)],
            "merges array<struct<a:string,b:string>>",
        )
        enc = (
            vdf.crossJoin(F.broadcast(mdf))
            .selectExpr("w", f"{T.BPE_APPLY_MERGES_EXPR} AS toks")
            .collect()
        )
        assert {r["w"]: r["toks"] for r in enc} == want_toks


def _py_feature_hash(tokens, dim=64):
    v = [0] * dim
    for t in tokens:
        h = hashlib.md5(t.encode()).hexdigest()
        v[int(h[:8], 16) % dim] += 1 if int(h[8], 16) % 2 == 0 else -1
    return [float(x) for x in v]


@settings(max_examples=8, deadline=None)
@given(
    toks=st.lists(
        st.text(alphabet="abcxyz0 .", min_size=0, max_size=6), max_size=12
    )
)
def test_feature_hash_matches_python_md5(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    [row] = df.select(F.expr(T.feature_hash_expr("toks")).alias("v")).collect()
    assert row["v"] == _py_feature_hash(toks)
