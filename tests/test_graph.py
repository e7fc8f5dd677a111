"""PageRank operator (operators/graph.py): hand-checkable graphs, rank-mass
conservation, and bit-stability across parallelism (the per-iteration
rounding contract that makes the oracle exact), in both regimes: the
driver regime below LOCAL_PR_MAX_EDGES and the distributed one above it
(forced here by a zero gate)."""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_loader_spark.operators import graph as G
from lakehouse_loader_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


@pytest.fixture
def distributed(monkeypatch):
    """Every graph is above a zero edge gate: the distributed regime."""
    monkeypatch.setattr(G, "LOCAL_PR_MAX_EDGES", 0)


def _ranks(e, **kw) -> dict:
    """node → rank from the driver regime, asserted bit-equal to the
    distributed regime's on the same graph."""
    got = {r.node: r.rank for r in pagerank(e, **kw).collect()}
    with mock.patch.object(G, "LOCAL_PR_MAX_EDGES", 0):
        dist = {r.node: r.rank for r in pagerank(e, **kw).collect()}
    assert got == dist
    return got


def test_regular_graph_is_fixed_point(spark):
    # every node of a directed cycle has deg 1 and receives exactly one
    # full rank: 0.15 + 0.85 * 1.0 = 1.0 is a fixed point
    cyc = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    out = _ranks(cyc, iterations=5)
    assert out == {"a": 1.0, "b": 1.0, "c": 1.0}


def test_star_center_dominates_and_mass_conserved(spark):
    leaves = [f"l{i}" for i in range(4)]
    pairs = [("hub", leaf) for leaf in leaves] + [(leaf, "hub") for leaf in leaves]
    out = _ranks(_edges(spark, pairs), iterations=10)
    assert out["hub"] > max(out[leaf] for leaf in leaves)
    assert len({out[leaf] for leaf in leaves}) == 1  # symmetry is exact
    assert abs(sum(out.values()) - 5.0) < 1e-3  # undirected graph: Σrank = N


def test_explicit_n_nodes_matches_counted(spark, distributed):
    # the per-session node-count cache (r16) passes the gate count in;
    # a correct count must be a pure no-op on the result, and a count on
    # the broadcast side of the gate must still pick the same regime
    pairs = [("hub", f"l{i}") for i in range(4)] + [
        (f"l{i}", "hub") for i in range(4)
    ]
    e = _edges(spark, pairs)
    base = {r.node: r.rank for r in pagerank(e, iterations=6).collect()}
    given = {
        r.node: r.rank for r in pagerank(e, iterations=6, n_nodes=5).collect()
    }
    assert given == base


def test_bit_stable_across_parallelism(spark, distributed):
    # per-iteration rounding must erase partitioning-dependent float
    # summation order — parallelism 1 and 16 agree EXACTLY
    import random

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    pairs = set()
    for _ in range(200):
        a, b = rng.sample(nodes, 2)
        pairs.add((a, b))
        pairs.add((b, a))
    e = _edges(spark, sorted(pairs))
    r1 = {r.node: r.rank for r in pagerank(e.coalesce(1), iterations=8).collect()}
    r16 = {r.node: r.rank for r in pagerank(e.repartition(16), iterations=8).collect()}
    assert r1 == r16


def test_no_cartesian_in_plan(spark, distributed):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    plan = pagerank(e, iterations=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_source_only_node_keeps_base_mass(spark):
    # 's' points into a cycle but nothing points at it (in-degree 0):
    # it must stay in the result with rank (1-d) + d*0 = 0.15 every
    # superstep, not silently vanish from the aggregation keyed by dst
    pairs = [("s", "a"), ("a", "b"), ("b", "a")]
    out = _ranks(_edges(spark, pairs), iterations=6)
    assert set(out) == {"s", "a", "b"}
    assert out["s"] == 0.15


def test_source_only_node_oracle_parity(spark):
    # the SQL twin must share the left-join shape, so the two engines
    # agree bit-for-bit on a graph WITH an in-degree-0 node
    import duckdb

    from lakehouse_loader_spark.operators.graph import pagerank_sql

    pairs = [("s", "a"), ("s", "b"), ("a", "b"), ("b", "c"), ("c", "a")]
    got = _ranks(_edges(spark, pairs), iterations=8)
    vals = ", ".join(f"('{a}', '{b}')" for a, b in pairs)
    sql = pagerank_sql(
        f"edges(src, dst) AS (SELECT * FROM (VALUES {vals}) v(src, dst))",
        iterations=8,
    )
    want = {n: r for n, r in duckdb.sql(sql).fetchall()}
    assert got == want


def test_tol_early_exit_matches_fixed_point(spark):
    # a cycle is at its fixed point after one superstep: with tol set the
    # loop exits early and the result is still the fixed point
    cyc = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    out = _ranks(cyc, iterations=50, tol=1e-9)
    assert out == {"a": 1.0, "b": 1.0, "c": 1.0}


def test_checkpoint_every_preserves_result(spark, distributed):
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    e = _edges(spark, pairs)
    base = {r.node: r.rank
            for r in pagerank(e, iterations=9, checkpoint_every=None).collect()}
    ck = {r.node: r.rank
          for r in pagerank(e, iterations=9, checkpoint_every=2).collect()}
    assert base == ck


def test_static_regime_does_not_leak_confs_to_parent_session(spark, distributed):
    """The small-graph static execution runs in an ISOLATED newSession()
    clone: an unrelated query planned CONCURRENTLY on the shared session
    must still plan adaptively with the session's shuffle partitioning
    (the r11 set/restore window flipped AQE off session-globally)."""
    import threading

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_sp = spark.conf.get("spark.sql.shuffle.partitions")
    observed: list[tuple[str, str, bool]] = []
    stop = threading.Event()

    def unrelated_planner():
        while not stop.is_set():
            plan = (
                spark.range(100)
                .groupBy((F.col("id") % 3).alias("k"))
                .count()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            observed.append(
                (
                    spark.conf.get("spark.sql.adaptive.enabled"),
                    spark.conf.get("spark.sql.shuffle.partitions"),
                    "AdaptiveSparkPlan" in plan,
                )
            )

    poller = threading.Thread(target=unrelated_planner)
    poller.start()
    try:
        import random

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(400)]
        pairs = set()
        for _ in range(3000):
            a, b = rng.sample(nodes, 2)
            pairs.add((a, b))
            pairs.add((b, a))
        ranks = pagerank(_edges(spark, sorted(pairs)), iterations=8)
        assert ranks.count() == 400
    finally:
        stop.set()
        poller.join()
    assert observed, "planner thread never ran"
    for aqe, sp, adaptive in observed:
        assert aqe == before_aqe and sp == before_sp and adaptive
    # the result frame is bound to the PARENT session and composes with it
    joined = ranks.join(
        spark.createDataFrame([("n0",)], "node string"), "node"
    )
    assert joined.count() == 1


def test_static_result_survives_scratch_generation_churn(spark, distributed):
    """The static-path result is a scan of PINNED scratch: holding the
    frame across more than SCRATCH_KEEP_GENERATIONS later
    materialize_shared calls must still collect (the unpinned scan
    crashed on the reclaimed dir once the generation window rolled)."""
    from lakehouse_loader_spark.operators import (
        SCRATCH_KEEP_GENERATIONS,
        materialize_shared,
    )

    ranks = pagerank(_edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]))
    churn = spark.range(10)
    for i in range(SCRATCH_KEEP_GENERATIONS + 2):
        materialize_shared(churn, label=f"churn{i}")
    assert ranks.count() == 3


@st.composite
def _graphs(draw):
    """Small random digraphs: duplicate edges, self-loops, in-degree-0
    sources and sinks (dst-only nodes) all occur; ids long or string."""
    n = draw(st.integers(1, 10))
    node = st.integers(0, n - 1)
    pairs = draw(st.lists(st.tuples(node, node), min_size=1, max_size=30))
    if draw(st.booleans()):
        ids = [i * 7919 - 40_000 for i in range(n)]
        ddl = "src long, dst long"
    else:
        ids = [f"n{i}" for i in range(n)]
        ddl = "src string, dst string"
    return [(ids[a], ids[b]) for a, b in pairs], ddl, draw(st.integers(0, 10))


@settings(max_examples=12, deadline=None)
@given(g=_graphs())
def test_driver_regime_matches_distributed_and_duckdb(spark, g):
    import duckdb

    from lakehouse_loader_spark.operators.graph import pagerank_sql

    pairs, ddl, iterations = g
    got = _ranks(spark.createDataFrame(pairs, ddl), iterations=iterations)
    vals = ", ".join(f"({a!r}, {b!r})" for a, b in pairs)
    sql = pagerank_sql(
        f"edges(src, dst) AS (SELECT DISTINCT * FROM (VALUES {vals}) v(src, dst))",
        iterations=iterations,
    )
    assert got == {n: r for n, r in duckdb.sql(sql).fetchall()}


def test_spark_round_matches_spark_round(spark):
    """spark_round is Spark's round(double, 6) bit for bit: random doubles
    across magnitudes and signs, exact 7-decimal ties (the HALF_UP cases
    a binary-value rounding gets wrong), and the special values."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(11)
    ties = np.array(
        [float(f"{rng.integers(0, 10**4)}.{rng.integers(0, 10**6):06d}5")
         for _ in range(4000)]
    )
    x = np.concatenate([
        ties,
        -ties[:500],
        rng.standard_normal(4000) * 10.0 ** rng.integers(-9, 9, 4000),
        rng.random(4000),
        [0.0, -0.0, np.nan, np.inf, -np.inf, 5e-7, -5e-7, 4.9999999e-7, 1e300],
    ])
    df = spark.createDataFrame(pa.table({"i": np.arange(len(x)), "x": x}))
    out = (
        df.repartition(3)
        .select("i", F.round("x", 6).alias("r"))
        .toPandas()
        .sort_values("i")
    )
    want = out["r"].to_numpy()
    got = G.spark_round(x, 6)
    assert np.array_equal(got, want, equal_nan=True)
    assert (np.signbit(got) == np.signbit(want)).all()


def test_driver_regime_result_is_a_local_scan(spark):
    """The driver regime hands back an Arrow-built frame: no PythonRDD
    scan, so the caller's action starts no Python worker."""
    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    plan = pagerank(e, iterations=3)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_warm_graph_pagerank_plans_with_no_job(spark):
    """Below the gate a warm ``graph_pagerank`` call runs no Spark job: the
    staged edge files are read by pyarrow (``session.collect_bounded`` on
    a bare parquet scan), the supersteps run on the driver and the result
    is an Arrow-built frame."""
    import uuid

    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded
    from tests.conftest import SF_SMOKE

    _ensure_loaded()
    fn = REGISTRY["graph_pagerank"].fn
    cold = fn(spark, SF_SMOKE).collect()
    sc = spark.sparkContext
    group = f"pagerank-warm-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm graph_pagerank")
    try:
        warm = fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(warm.collect()) == sorted(cold)
