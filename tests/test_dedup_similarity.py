"""Operator-level tests for the approximate dedup/similarity structures —
the properties the SQL oracle can't check: LSH recall, SimHash banding
completeness, ANN recall against brute force."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lakehouse_loader_spark.operators import dedup as D
from lakehouse_loader_spark.operators import similarity as S

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from lakehouse_loader_spark.catalog import load_table

    return load_table(spark, SF_ORACLE, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    from lakehouse_loader_spark.catalog import load_table

    return load_table(spark, SF_ORACLE, "embeddings")


def test_minhash_lsh_recall_is_total_on_planted_dups(spark, docs):
    """32×4 banding must find every exact-jaccard≥0.8 pair in the corpus
    (the driver data plants ~25 such pairs at sf0.01)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert len(exact) > 0, "testdata should contain planted near-dup pairs"
    lsh = {(r.doc_a, r.doc_b) for r in D.minhash_near_duplicates(docs, threshold=0.8).collect()}
    assert lsh == exact


def test_minhash_on_synthetic_mutations(spark):
    """Construct docs with known overlap: dup pairs at j≈0.9 found, unrelated
    docs not paired."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight " * 3
    words = base.split()
    mutated = " ".join(words[:-2])  # drop 2 trailing words → high jaccard
    other = "completely different content about spark engines and columnar formats " * 4
    rows = [(1, base.strip()), (2, mutated), (3, other.strip())]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_near_duplicates(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_banding_equals_bruteforce(spark, docs):
    """Chunk-banding must return exactly the brute-force hamming≤3 pairs
    (pigeonhole guarantees completeness at 4 chunks / distance 3)."""
    sh = D.with_simhash(docs).select(F.col("doc_id").alias("doc"), "simhash")
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    banded = {(r.doc_a, r.doc_b) for r in D.simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert banded == brute


def test_lsh_ann_recall_against_brute_force(spark, emb):
    """Multi-table ANN top-10 must overlap ≥50% with exact top-10 on average
    (8 tables × 4 planes, 64-dim near-random data — a smoke floor)."""
    queries = emb.filter(F.col("vec_id") < 20)
    brute = S.brute_force_topk(emb, queries, k=10).collect()
    ann = S.lsh_ann_topk(emb, queries, dim=64, k=10).collect()
    brute_sets: dict[int, set[int]] = {}
    for r in brute:
        brute_sets.setdefault(r.q_id, set()).add(r.n_id)
    ann_sets: dict[int, set[int]] = {}
    for r in ann:
        ann_sets.setdefault(r.q_id, set()).add(r.n_id)
    recalls = [
        len(brute_sets[q] & ann_sets.get(q, set())) / len(brute_sets[q]) for q in brute_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_exact_dedup_counts(spark, docs):
    out = D.exact_duplicates(docs)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_approx_distinct_error_bound(spark):
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["agg_approx_distinct"].fn(spark, SF_ORACLE).collect()
    assert rows and all(r.within_bound for r in rows)  # r7: 5% bound in-query


def test_ivf_ann_recall_against_brute_force(spark, emb):
    """IVF with 4-of-16 probes must reach ≥40% average top-10 recall on this
    near-random data (IVF prunes 75% of the corpus per query)."""
    queries = emb.filter(F.col("vec_id") < 20)
    brute = S.brute_force_topk(emb, queries, k=10).collect()
    ivf = S.ivf_ann_topk(emb, queries, k=10).collect()
    bs: dict[int, set[int]] = {}
    for r in brute:
        bs.setdefault(r.q_id, set()).add(r.n_id)
    vs: dict[int, set[int]] = {}
    for r in ivf:
        vs.setdefault(r.q_id, set()).add(r.n_id)
    recalls = [len(bs[q] & vs.get(q, set())) / len(bs[q]) for q in bs]
    assert sum(recalls) / len(recalls) >= 0.4


def test_incremental_near_duplicates_cross_set_only(spark):
    """Batch docs pair only against corpus docs: a planted batch→corpus
    near-dup is found with its exact jaccard, while an exact duplicate
    WITHIN the batch (and within the corpus) must not appear."""
    from lakehouse_loader_spark.operators.dedup import (
        incremental_near_duplicates,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # corpus-internal exact dup — must NOT pair
            (3, "completely different words about training data pipelines here"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, base + " extra"),  # near-dup of corpus 1 and 2
            (101, base + " extra"),  # batch-internal exact dup — must NOT pair
            (102, "unrelated payload text with nothing shared at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.new_doc, r.corpus_doc): r.jaccard
        for r in incremental_near_duplicates(corpus, batch, threshold=0.5).collect()
    }
    assert set(got) == {(100, 1), (100, 2), (101, 1), (101, 2)}
    # jaccard values agree with the within-set operator run on the union
    union_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(corpus.union(batch), threshold=0.5).collect()
    }
    for (nd, cd), j in got.items():
        assert abs(union_pairs[(cd, nd)] - j) < 1e-12


def test_connected_components_chain_and_star(spark):
    from lakehouse_loader_spark.operators.clusters import connected_components, dedup_clusters

    # chain 1-2-3-4-5, star 10-(11,12,13), isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)],
        ["doc_a", "doc_b"],
    )
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert {cc[n] for n in (1, 2, 3, 4, 5)} == {1}
    assert {cc[n] for n in (10, 11, 12, 13)} == {10}
    assert {cc[n] for n in (20, 21)} == {20}
    clusters = {
        r.cluster_id: (r.canonical_doc, r.n_members)
        for r in dedup_clusters(pairs).collect()
    }
    assert clusters == {1: (1, 5), 10: (10, 4), 20: (20, 2)}


def test_local_union_find_result_is_a_local_scan(spark):
    """The union-find regime reads its edges through Arrow and returns an
    Arrow-built frame: a LocalTableScan, never a PythonRDD scan whose
    every action starts Python workers."""
    from lakehouse_loader_spark.operators.clusters import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (8, 7)], "doc_a long, doc_b long")
    cc = connected_components(pairs)
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert {r.node: r.component for r in cc.collect()} == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def _persistent_rdd_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def test_connected_components_long_chain_needs_iterations(spark, monkeypatch):
    """A too-small round budget fails loudly and reclaims every checkpoint
    generation it made; a converged run keeps only the one generation its
    result reads."""
    from lakehouse_loader_spark.operators import clusters as C

    # force the DISTRIBUTED loop (the size gate would otherwise solve the
    # chain exactly on the driver, budget-free)
    monkeypatch.setattr(C, "LOCAL_CC_MAX_EDGES", -1)
    n = 40
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["doc_a", "doc_b"])
    before = _persistent_rdd_ids(spark)
    # too-small budget must fail loudly, never return split components
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(pairs, max_iterations=2).collect()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"failed run left persisted RDDs behind: {leaked}"

    before = _persistent_rdd_ids(spark)
    cc = {r.node: r.component for r in C.connected_components(pairs).collect()}
    assert len(cc) == n + 1 and set(cc.values()) == {0}
    kept = _persistent_rdd_ids(spark) - before
    assert len(kept) <= 1, f"converged run kept {len(kept)} checkpoint generations"


def test_star_contraction_handles_high_diameter(spark, monkeypatch):
    """A path graph far longer than the round budget: star contraction
    converges in O(log² n) rounds, not one round per diameter unit."""
    from lakehouse_loader_spark.operators import clusters as C

    monkeypatch.setattr(C, "LOCAL_CC_MAX_EDGES", -1)  # exercise the loop
    n = 200  # diameter 200 ≫ the default 30-round budget
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["doc_a", "doc_b"])
    cc = {r.node: r.component for r in C.connected_components(pairs).collect()}
    assert len(cc) == n + 1
    assert set(cc.values()) == {0}


def _bfs_components(edge_list) -> dict:
    """Literal reference: node -> min node id of its BFS-reachable set."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edge_list:
        if a is not None and b is not None and a != b:
            adj[a].add(b)
            adj[b].add(a)
    comp: dict = {}
    for s in adj:
        if s in comp:
            continue
        seen, queue = {s}, deque([s])
        while queue:
            for v in adj[queue.popleft()] - seen:
                seen.add(v)
                queue.append(v)
        for v in seen:
            comp[v] = min(seen)
    return comp


@pytest.mark.parametrize("regime", ["union_find", "distributed"])
def test_connected_components_match_bfs_reference(spark, monkeypatch, regime):
    """Both regimes (the size-gated driver union-find and star contraction)
    return exactly a BFS reference's (node, component) map, component =
    min member id, on one disjoint union of: two seeded multi-component
    random graphs, a star, and a path longer than 25 hops.  Self-pairs and
    NULL endpoints are dropped.  dedup_clusters agrees as (cluster_id,
    canonical_doc, n_members)."""
    import random

    from lakehouse_loader_spark.operators import clusters as C

    edge_list = []
    for seed, n_nodes, n_edges, offset in ((7, 120, 90, 0), (11, 300, 220, 1000)):
        rng = random.Random(seed)
        edge_list += [
            (offset + rng.randrange(n_nodes), offset + rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
    edge_list += [(2000, 2000 + k) for k in range(1, 31)]  # star, hub 2000
    edge_list += [(3000 + i, 3001 + i) for i in range(40)]  # 40-hop path
    edge_list += [(4000, 4000), (4001, None), (None, 4002)]  # dropped
    want = _bfs_components(edge_list)
    assert 4000 not in want and len(set(want.values())) > 10

    if regime == "distributed":
        monkeypatch.setattr(C, "LOCAL_CC_MAX_EDGES", -1)
    pairs = spark.createDataFrame(edge_list, "doc_a BIGINT, doc_b BIGINT")
    got = {r.node: r.component for r in C.connected_components(pairs).collect()}
    assert got == want

    members: dict = {}
    for node, comp in want.items():
        members.setdefault(comp, []).append(node)
    clusters = {
        (r.cluster_id, r.canonical_doc, r.n_members)
        for r in C.dedup_clusters(pairs).collect()
    }
    assert clusters == {(c, min(ns), len(ns)) for c, ns in members.items()}


def test_asof_join_picks_latest_row_atomically(spark):
    """The latest preceding right ROW wins as a unit — a NULL member must
    not be backfilled from an older row (blended rows), and an inner join
    must keep matches whose first value column is NULL."""
    import datetime as dt

    from lakehouse_loader_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    right = spark.createDataFrame(
        [("k", t0 + dt.timedelta(hours=1), 1, 2), ("k", t0 + dt.timedelta(hours=2), 3, None)],
        "key STRING, rts TIMESTAMP, a INT, b INT",
    )
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(hours=3), 99)], "key STRING, lts TIMESTAMP, x INT"
    )
    row = asof_join(left, right, "key", "lts", "rts", ["a", "b"]).collect()[0]
    assert (row.a, row.b) == (3, None)
    inner = asof_join(left, right, "key", "lts", "rts", ["b", "a"], how="inner").collect()
    assert len(inner) == 1 and inner[0].b is None and inner[0].a == 3


def test_pca_projection_matches_local_numpy(spark, emb):
    """Distributed moments + driver eigensolve must agree with plain local
    numpy PCA (same sign convention) to float tolerance, and projected
    variance must be non-increasing across components."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    mean = X.mean(axis=0)
    cov = (X - mean).T @ (X - mean) / X.shape[0]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals)
    evecs = evecs[:, order]
    for j in range(evecs.shape[1]):
        i = np.argmax(np.abs(evecs[:, j]))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    want = {vid: (X[i] - mean) @ evecs[:, :8] for i, vid in enumerate(ids)}

    got = {r.vec_id: np.array(r.pca) for r in S.pca_project(emb, k=8).collect()}
    assert set(got) == set(want)
    for vid in got:
        np.testing.assert_allclose(got[vid], want[vid], atol=1e-8)
    var = np.array([[v[j] for v in got.values()] for j in range(8)]).var(axis=1)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(7))


def test_semantic_dedup_invariants_and_brute_agreement(spark, emb):
    """SemDeDup verdicts: dup_of is always a lower id in the SAME cluster,
    keep ⇔ dup_of IS NULL, and the flagged-duplicate set equals the ids
    having a lower-id within-cluster partner at cosine ≥ τ (brute force)."""
    tau = 0.35
    out = S.semantic_dedup(emb, threshold=tau, group_col="label").cache()
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count()
    for r in rows.values():
        assert (r.dup_of is None) == bool(r.keep)
        if r.dup_of is not None:
            assert r.dup_of < r.vec_id
            assert rows[r.dup_of].label == r.label

    brute = (
        S.cosine_neardup_pairs(
            emb.withColumn("embedding", F.col("embedding")), threshold=tau
        )
        .join(
            emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la")),
            "vec_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb")),
            "vec_b",
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
    )
    expect = {r.vec_b: r.dup_of for r in brute.collect()}
    got = {k: r.dup_of for k, r in rows.items() if r.dup_of is not None}
    assert got == expect
    out.unpersist()


def test_kmeans_assign_matches_local_numpy(spark, emb):
    """Cluster assignment: deterministic, total, and each vector's cluster
    is its true argmin squared-L2 centroid (verified against local numpy
    on the full corpus)."""
    import numpy as np

    cents = S.train_ivf_centroids_sampled(emb, n_centroids=8, n_iters=5)
    out = S.kmeans_assign(emb, cents)
    rows = {r.vec_id: (r.cluster, r.dist) for r in out.collect()}
    assert len(rows) == emb.count()

    local = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()
    }
    c = np.asarray(cents, dtype=np.float64)
    for vid, v in local.items():
        d = ((c - v) ** 2).sum(axis=1)
        assert rows[vid][0] == int(d.argmin())
        assert abs(rows[vid][1] - float(np.sqrt(d.min()))) < 1e-9

    again = {r.vec_id: r.cluster for r in S.kmeans_assign(emb, cents).collect()}
    assert again == {k: v[0] for k, v in rows.items()}


def test_semantic_dedup_string_group_column(spark, emb):
    """group_col may be any scalar type — a string partition (language tag
    shape) must work, with the output schema mirroring the input's."""
    labeled = emb.withColumn("lang", F.concat(F.lit("g"), (F.col("label") % 3)))
    out = S.semantic_dedup(labeled, threshold=0.35, group_col="lang")
    rows = out.collect()
    assert len(rows) == emb.count()
    assert dict(out.dtypes)["lang"] == "string"
    assert {r.lang for r in rows} == {"g0", "g1", "g2"}


def test_dedup_queries_leave_no_cache_residue(spark):
    """VERDICT r6 item 3: the dedup family must not pin persisted frames in
    executor memory after the result is materialized — the shared shingle
    frame lives in session-scoped scratch parquet (materialize_shared), not
    a persist() the returned plan would hold for the session lifetime."""
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_SMOKE

    _ensure_loaded()
    for key in ("dedup_ngram_jaccard", "dedup_incremental", "dedup_minhash"):
        before = _persistent_rdd_ids(spark)
        REGISTRY[key].fn(spark, SF_SMOKE).collect()
        leaked = _persistent_rdd_ids(spark) - before
        assert not leaked, f"{key} left persisted RDDs behind: {leaked}"


def test_materialize_shared_roundtrip_and_reap(spark):
    """materialize_shared: scans return the written rows, the scratch dir is
    registered for reaping, and _reap_scratch removes it."""
    import os

    from lakehouse_loader_spark import operators as O

    df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    shared = O.materialize_shared(df, "t")
    assert shared.count() == 100
    assert sorted(r.v for r in shared.collect()) == list(range(0, 200, 2))
    path = O._SCRATCH_DIRS[-1]
    assert os.path.isdir(path) and "lhl-scratch-t-" in path
    O._reap_scratch()
    assert not os.path.exists(path)
    assert not O._SCRATCH_DIRS


def test_materialize_shared_generation_cap(spark):
    """Scratch growth is bounded: beyond SCRATCH_KEEP_GENERATIONS the
    oldest dirs are reclaimed eagerly on the next call, not at exit."""
    import os

    from lakehouse_loader_spark import operators as O

    O._reap_scratch()
    made = []
    for i in range(O.SCRATCH_KEEP_GENERATIONS + 3):
        O.materialize_shared(spark.range(0, 5), f"cap{i}")
        made.append(O._SCRATCH_DIRS[-1])
    assert len(O._SCRATCH_DIRS) == O.SCRATCH_KEEP_GENERATIONS
    for old in made[:3]:
        assert not os.path.exists(old), "oldest generation should be reclaimed"
    for recent in made[3:]:
        assert os.path.exists(recent)
    O._reap_scratch()
    assert all(not os.path.exists(p) for p in made)


def test_materialize_shared_pinned_window_is_bounded(spark, monkeypatch):
    """pin=True dirs get a WIDE generational backstop, not unbounded
    growth: a service looping pagerank(static=True) forever must not leak
    one node-sized dir per call for the process lifetime (ADVICE r12).
    Holding more than PINNED_KEEP_GENERATIONS pinned frames alive at once
    is the documented unsupported case — the oldest's files vanish and a
    stale re-collect fails loudly."""
    import os

    from lakehouse_loader_spark import operators as O

    O._reap_scratch()
    monkeypatch.setattr(O, "PINNED_KEEP_GENERATIONS", 4)
    made = []
    for i in range(6):
        O.materialize_shared(spark.range(0, 5), f"pin{i}", pin=True)
        made.append(O._PINNED_DIRS[-1])
    assert len(O._PINNED_DIRS) == 4
    for old in made[:2]:
        assert not os.path.exists(old), "oldest pinned dir should be reclaimed"
    for recent in made[2:]:
        assert os.path.exists(recent)
    O._reap_scratch()
    assert all(not os.path.exists(p) for p in made)


def test_exact_allpairs_gate_refuses_above_max_rows(spark):
    """The exact O(n²·d) all-pairs path carries the clusters-style size
    gate: above max_rows it refuses with a pointer at the banded paths;
    max_rows=None forces it (a cluster deliberately sized for n²)."""
    import pytest

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="O\\(n²·d\\)"):
        S.cosine_neardup_pairs_blocked(emb, threshold=0.9, max_rows=10)
    forced = S.cosine_neardup_pairs_blocked(
        emb, threshold=0.999999, max_rows=None
    )
    assert forced.count() == 0  # gate off → plan executes


def test_staged_dedup_artifacts_cache_per_session(spark):
    """queries/staging.py: an artifact is computed ONCE per (key, sf_dir)
    per session (the family-shared scratch, VERDICT r12 item 1), rebuilt
    if its dir vanishes, and never shared across sessions."""
    import os
    import shutil

    from lakehouse_loader_spark.queries.staging import _registry, staged_doc_shingles
    from tests.conftest import SF_SMOKE

    _registry(spark).clear()
    a = staged_doc_shingles(spark, SF_SMOKE)
    path1 = _registry(spark)[("shingles3", SF_SMOKE)]
    b = staged_doc_shingles(spark, SF_SMOKE)
    assert _registry(spark)[("shingles3", SF_SMOKE)] == path1
    n = b.count()
    assert a.count() == n > 0
    assert set(a.columns) == {"doc_id", "source", "sh_h"}
    # a reclaimed dir rebuilds instead of failing (a frame still scanning
    # the old dir fails loudly — same contract as materialize_shared)
    shutil.rmtree(path1)
    c = staged_doc_shingles(spark, SF_SMOKE)
    path2 = _registry(spark)[("shingles3", SF_SMOKE)]
    assert path2 != path1 and os.path.isdir(path2)
    assert c.count() == n
    # a clone session stages independently (its own registry)
    iso = spark.newSession()
    staged_doc_shingles(iso, SF_SMOKE)
    assert _registry(iso)[("shingles3", SF_SMOKE)] != path2
    _registry(spark).clear()


@pytest.fixture(params=["driver", "distributed"])
def staging_regime(request, monkeypatch):
    """Both build regimes of the gated staged artifacts: the driver regime
    at the module gates, the distributed one with every gate at 0."""
    from lakehouse_loader_spark.operators import graph
    from lakehouse_loader_spark.queries import staging

    if request.param == "distributed":
        monkeypatch.setattr(staging, "LOCAL_DEDUP_MAX_DOCS", 0)
        monkeypatch.setattr(graph, "LOCAL_PR_MAX_EDGES", 0)
    return request.param


def test_staged_artifacts_match_inline_derivations(spark, staging_regime):
    """The staged shingle/signature/fingerprint/edge frames must be
    row-identical to the inline operator derivations they replace — the
    guarantee that swapping the stage into a query cannot change any
    oracle-checked result — in both build regimes."""
    from pyspark.sql import functions as F2

    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.operators.dedup import (
        with_hashed_shingles,
        with_minhash_signature,
        with_simhash,
    )
    from lakehouse_loader_spark.queries.staging import (
        _registry,
        staged_doc_shingles,
        staged_minhash_sigs,
        staged_pagerank_edges,
        staged_rows,
        staged_scan,
        staged_simhash,
    )
    from tests.conftest import SF_SMOKE

    _registry(spark).clear()
    docs = load_table(spark, SF_SMOKE, "documents")

    staged = staged_doc_shingles(spark, SF_SMOKE).orderBy("doc_id").collect()
    inline = (
        with_hashed_shingles(docs)
        .select("doc_id", "source", "sh_h")
        .orderBy("doc_id")
        .collect()
    )
    assert staged == inline

    s_sig = staged_minhash_sigs(spark, SF_SMOKE).orderBy("doc_id").collect()
    i_sig = (
        with_minhash_signature(
            with_hashed_shingles(docs).filter(F2.size("sh_h") > 0),
            128,
            shingle_col="sh_h",
        )
        .select("doc_id", "minhash_sig")
        .orderBy("doc_id")
        .collect()
    )
    assert s_sig == i_sig

    def edges():
        o = load_table(spark, SF_SMOKE, "orders")
        return o.select(
            F2.col("o_custkey").alias("src"), (F2.col("o_orderkey") % 97).alias("dst")
        ).distinct()

    e_path = staged_pagerank_edges(spark, SF_SMOKE, "test_edges", edges)
    assert sorted(staged_scan(spark, e_path).collect()) == sorted(edges().collect())

    reg = _registry(spark)
    built = [
        staged_rows(spark, reg[key])
        for key in [("shingles3", SF_SMOKE), ("mhsig3_128", SF_SMOKE)]
    ] + [staged_rows(spark, e_path)]
    if staging_regime == "driver":
        assert built == [len(staged), len(s_sig), staged_scan(spark, e_path).count()]
    else:
        assert built == [None, None, None]

    s_fp = (
        staged_simhash(spark, SF_SMOKE, bits=60, hash_fn="md5_60")
        .orderBy("doc_id")
        .collect()
    )
    i_fp = (
        with_simhash(docs, bits=60, hash_fn="md5_60")
        .filter(F2.trim(F2.col("text")) != "")
        .select("doc_id", "simhash")
        .orderBy("doc_id")
        .collect()
    )
    assert s_fp == i_fp
    _registry(spark).clear()


def test_dedup_staging_job_budget(spark, monkeypatch):
    """Below the gate the shingle and signature builds run at most 1 Spark
    job together (the shingle collect; the documents table's schema was
    inferred by an earlier read in the session), write no Spark parquet,
    and plan no pandas UDF (``ArrowEvalPython``): the signatures are
    signed on the driver."""
    import uuid

    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.queries import staging
    from tests.conftest import SF_SMOKE

    plans = []
    collect = staging.collect_bounded

    def recording_collect(df, max_rows):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df, max_rows)

    def no_spark_write(*args):
        raise AssertionError("a Spark staging write ran below the gate")

    monkeypatch.setattr(staging, "collect_bounded", recording_collect)
    monkeypatch.setattr(staging, "_staged_write", no_spark_write)
    staging._registry(spark).clear()
    load_table(spark, SF_SMOKE, "documents")
    sc = spark.sparkContext
    group = f"dedup-staging-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dedup staging budget")
    try:
        staging.staged_doc_shingles(spark, SF_SMOKE)
        sigs = staging.staged_minhash_sigs(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
        plans.append(sigs._jdf.queryExecution().executedPlan().toString())
        assert len(plans) == 2
        assert not [p for p in plans if "ArrowEvalPython" in p], plans
    finally:
        staging._registry(spark).clear()


def test_staged_ann_indexes_match_inline_paths(spark, emb):
    """The staged LSH/IVF index artifacts must produce EXACTLY the
    neighbor lists the inline (index-built-per-call) paths produce — the
    guarantee that serving queries against the prebuilt index cannot
    change any oracle-checked recall report."""
    from lakehouse_loader_spark.queries.staging import (
        _registry,
        staged_ivf_index,
        staged_lsh_index,
    )
    from tests.conftest import SF_ORACLE

    _registry(spark).clear()
    q = emb.filter(F.col("vec_id") < 20)

    inline_lsh = sorted(
        (r.q_id, r.n_id, r.rank)
        for r in S.lsh_ann_topk(emb, q, dim=64, k=10).collect()
    )
    staged_lsh = sorted(
        (r.q_id, r.n_id, r.rank)
        for r in S.lsh_ann_topk(
            emb, q, dim=64, k=10, indexed=staged_lsh_index(spark, SF_ORACLE)
        ).collect()
    )
    assert staged_lsh == inline_lsh

    inv, cents = staged_ivf_index(spark, SF_ORACLE)
    inline_ivf = sorted(
        (r.q_id, r.n_id, r.rank) for r in S.ivf_ann_topk(emb, q, k=10).collect()
    )
    staged_ivf = sorted(
        (r.q_id, r.n_id, r.rank)
        for r in S.ivf_ann_topk(
            emb, q, k=10, indexed=inv, centroids=cents
        ).collect()
    )
    assert staged_ivf == inline_ivf
    # indexed and centroids must travel together
    with pytest.raises(ValueError, match="together"):
        S.ivf_ann_topk(emb, q, k=10, indexed=inv)
    _registry(spark).clear()


def test_staged_artifacts_honor_scratch_dir_conf(spark, tmp_path):
    """spark.lakehouse.scratch.dir (the cluster-visible scratch root on a
    real deployment) must govern where staged artifacts land — a
    driver-local tempdir would be unreadable to executors there."""
    from lakehouse_loader_spark.queries.staging import _registry, staged_doc_shingles
    from tests.conftest import SF_SMOKE

    _registry(spark).clear()
    root = str(tmp_path / "scratch")
    spark.conf.set("spark.lakehouse.scratch.dir", root)
    try:
        df = staged_doc_shingles(spark, SF_SMOKE)
        path = _registry(spark)[("shingles3", SF_SMOKE)]
        assert path.startswith(root), path
        assert df.count() > 0
    finally:
        spark.conf.unset("spark.lakehouse.scratch.dir")
        _registry(spark).clear()


def test_driver_probe_skipped_when_inputs_exceed_the_gate(spark):
    """The bounded collect is tried only when the frame's inputs (their
    parquet footers) hold at most ``max_rows`` rows: above that it runs no
    Spark job, so a distributed build never pays a discarded probe.  A
    bare scan of local parquet files within the bound is read by pyarrow,
    also with no Spark job, into the table Spark's own collect returns."""
    import uuid

    from lakehouse_loader_spark.catalog import load_table
    from lakehouse_loader_spark.session import collect_bounded
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    n = docs.count()
    sc = spark.sparkContext
    group = f"probe-skip-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "probe skip")
    try:
        assert collect_bounded(docs, n - 1) is None
        got = collect_bounded(docs, n)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got.sort_by("doc_id").equals(docs.toArrow().sort_by("doc_id"))
    # a derived frame is not read by pyarrow: within the bound it runs
    # the limit collect
    derived = docs.select((docs.doc_id + 1).alias("d"))
    assert collect_bounded(derived, n - 1) is None
    assert collect_bounded(derived, n).num_rows == n


def test_schemed_scratch_root_stages_distributed(spark, tmp_path):
    """The driver regime writes local files only: under a scheme'd scratch
    root the gated artifacts take the distributed build (a Spark write)
    even below their gates, with the same rows."""
    from lakehouse_loader_spark.queries.staging import (
        _registry,
        staged_doc_shingles,
        staged_minhash_sigs,
        staged_rows,
    )
    from tests.conftest import SF_SMOKE

    _registry(spark).clear()
    local_sigs = sorted(staged_minhash_sigs(spark, SF_SMOKE).collect())
    _registry(spark).clear()
    spark.conf.set("spark.lakehouse.scratch.dir", f"file://{tmp_path}")
    try:
        staged_doc_shingles(spark, SF_SMOKE)
        sigs = sorted(staged_minhash_sigs(spark, SF_SMOKE).collect())
        reg = _registry(spark)
        for key in [("shingles3", SF_SMOKE), ("mhsig3_128", SF_SMOKE)]:
            assert reg[key].startswith("file://")
            assert staged_rows(spark, reg[key]) is None
        assert sigs == local_sigs
    finally:
        spark.conf.unset("spark.lakehouse.scratch.dir")
        _registry(spark).clear()


def test_stack_batch_names_offending_row():
    """stack_batch (the vectorized index-build batch stacker): NULL or
    ragged vectors fail with a named row index instead of numpy's opaque
    'all input arrays must have the same shape' (r15 ADVICE).  The hot
    path stays a bare np.stack — diagnostics run only after it raises."""
    import numpy as np
    import pandas as pd
    import pytest

    from lakehouse_loader_spark.operators.similarity import stack_batch

    good = pd.Series([[1.0, 2.0], [3.0, 4.0]])
    m = stack_batch(good)
    assert m.shape == (2, 2) and m.dtype == np.float64

    with pytest.raises(ValueError, match="NULL embedding vector at batch row 1"):
        stack_batch(pd.Series([[1.0, 2.0], None, [5.0, 6.0]]))

    with pytest.raises(ValueError, match=r"ragged embedding at batch row 2.*3 != 2"):
        stack_batch(pd.Series([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0, 7.0]]))
