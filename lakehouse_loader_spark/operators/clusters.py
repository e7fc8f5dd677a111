"""Duplicate-cluster formation: connected components over near-dup pairs.

Pair lists (from minhash/simhash/cosine dedup) answer "which two docs
match"; a training-data pipeline needs "which GROUP of docs is one
document" plus a canonical representative.  That's connected components,
with component = min node id reachable (a deterministic representative).

One function, two regimes chosen by the distinct edge count:

- at or below LOCAL_CC_MAX_EDGES, a driver-side union-find: the verified
  pair set is usually orders of magnitude smaller than the corpus, and
  below the gate any distributed loop is pure job-launch + shuffle
  overhead.  The edges arrive through ``session.collect_bounded`` and the
  result is an Arrow-built frame (``session.local_frame``: a
  LocalTableScan, no job and no Python worker when the caller's action
  runs).  Driver state is bounded by the constant gate, never by data
  scale — the same shape as PageRank's LOCAL_PR_MAX_EDGES driver regime
  (operators/graph.py).
- above it, alternating large-star / small-star contraction (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14), which
  converges in O(log² n) rounds whatever the component diameter — dup
  cliques and 10⁶-hop chains alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_loader_spark.session import collect_bounded, local_frame

# Edge-count ceiling for the driver-local union-find fast path.  The
# VERIFIED near-dup pair set is normally orders of magnitude smaller than
# the corpus (it lists duplicate relationships, not documents), and below
# this bound a single-pass union-find beats the contraction loop's
# job-launch and shuffle overhead by seconds (measured ~1s for a 256-edge
# graph at sf0.1).  500k two-column rows is tens of MB of driver state —
# bounded by this constant, not by data scale; graphs above it take the
# distributed path.
LOCAL_CC_MAX_EDGES = 500_000


def _local_union_find(spark, tbl, node_type: T.DataType) -> DataFrame:
    """Exact connected components of a SMALL collected (a, b) Arrow edge
    table via driver-side union-find with path halving; component = min
    node id, matching the distributed contract.  The result is an
    Arrow-built frame (``session.local_frame``)."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(tbl.column("a").to_pylist(), tbl.column("b").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    roots = {n: find(n) for n in parent}
    for n, r in roots.items():
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("component", node_type)]
    )
    col_type = tbl.schema.field("a").type
    out = pa.table(
        {
            "node": pa.array(list(roots), col_type),
            "component": pa.array([comp_min[r] for r in roots.values()], col_type),
        }
    )
    return local_frame(spark, out, schema)


# Deterministic block reclamation for the iterative checkpoints: each
# round's eager localCheckpoint persists a new RDD that SUPERSEDES the
# previous round's, but nothing unpersists the old one until driver GC
# happens to drop the py4j reference, so a long session accumulates dead
# blocks.  Track the persistent-RDD ids each checkpoint creates and free
# superseded generations explicitly.  (The id-diff is session-global: this
# operator assumes no concurrent thread persists RDDs mid-call — true for
# the engine's one-query-at-a-time execution.)
def _persistent_ids(jsc) -> set[int]:
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def _free(jsc, ids: set[int]) -> None:
    rdds = jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = rdds.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def _checkpoint(df: DataFrame, jsc) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint (O(1) plan size per round) plus the ids of the
    persistent RDDs it created."""
    before = _persistent_ids(jsc)
    df = df.localCheckpoint(eager=True)
    return df, _persistent_ids(jsc) - before


def _large_star(e: DataFrame) -> DataFrame:
    """Every node's strictly-LARGER neighbors re-attach to its local minimum
    m = min(Γ(u) ∪ {u}): emit (v, m) for v ∈ Γ(u), v > u."""
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("node"), F.col("b").alias("nbr")),
                F.struct(F.col("b").alias("node"), F.col("a").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    mins = (
        sym.groupBy("node")
        .agg(F.min("nbr").alias("mn"))
        .select("node", F.least("node", "mn").alias("m"))
    )
    # no distinct here: duplicate edges change no min() downstream, and
    # small_star's terminal distinct dedups the round's output — saving
    # one shuffle per round
    return (
        sym.join(mins, "node")
        .filter(F.col("nbr") > F.col("node"))
        .select(F.col("nbr").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high→low; every node's smaller neighbors (and the node
    itself) attach to m = min(Γ₋(u) ∪ {u}): emit (v, m)."""
    hi_lo = e.select(F.greatest("a", "b").alias("node"), F.least("a", "b").alias("nbr"))
    mins = hi_lo.groupBy("node").agg(F.min("nbr").alias("m"))
    re_attach = (
        hi_lo.join(mins, "node")
        .filter(F.col("nbr") != F.col("m"))
        .select(F.col("nbr").alias("a"), F.col("m").alias("b"))
    )
    self_attach = mins.select(F.col("node").alias("a"), F.col("m").alias("b"))
    return (
        re_attach.unionByName(self_attach)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min node
    id reachable (deterministic canonical representative), with the
    node column's type.

    Self-pairs ``(x, x)`` and pairs with a NULL endpoint are dropped before
    either regime runs, so a node that appears only in such pairs gets no
    row (callers treat docs without a row as singletons).

    Large graphs run large-star then small-star per round; both steps
    preserve connectivity, and the fixpoint is a star forest where every
    node points at its component minimum.  Convergence is detected with a
    constant-size fingerprint (edge count + hash xor) instead of a
    subtract — one tiny aggregate, no extra shuffle of the edge set.  A
    budget exhausted without a fixpoint raises: silent partial components
    would split real duplicate groups."""
    jsc = pairs.sparkSession.sparkContext._jsc
    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))  # NULL-safe: NULL != x drops too
        .distinct()
    )
    # every checkpoint generation currently persisted: the failure path
    # frees ALL of them (covering a crash between creating a checkpoint and
    # retiring its predecessor, when two generations are live at once)
    live_ckpt_ids: set[int] = set()
    prev_fp: tuple[int, int] | None = None
    converged = False
    try:
        # materialize the INITIAL edge set once, before anything reads it:
        # the bounded collect and round 1's two large-star subtrees would
        # each re-run the upstream pair computation (minhash/shingle joins
        # — the expensive part) otherwise
        edges, live_ckpt_ids = _checkpoint(edges, jsc)
        tbl = collect_bounded(edges, LOCAL_CC_MAX_EDGES)
        if tbl is not None:
            # the returned frame is driver-built and doesn't read the edge
            # checkpoint; converged stays False, so finally reclaims it
            return _local_union_find(
                edges.sparkSession, tbl, edges.schema["a"].dataType
            )
        for _ in range(max_iterations):
            new_edges, new_ids = _checkpoint(_small_star(_large_star(edges)), jsc)
            live_ckpt_ids |= new_ids
            row = new_edges.agg(
                F.count(F.lit(1)).alias("n"),
                # xor-fold of per-edge hashes: order-independent and cannot
                # overflow (a long SUM trips ANSI arithmetic checks)
                F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
            ).first()
            fp = (int(row["n"]), int(row["h"]))
            edges = new_edges
            # the previous round's checkpoint is now unreachable — free it
            _free(jsc, live_ckpt_ids - new_ids)
            live_ckpt_ids = new_ids
            if fp == prev_fp:  # star-forest fixpoint: (v, root) edges only
                converged = True
                break
            prev_fp = fp
    finally:
        # the success path keeps its final checkpoint alive: the returned
        # frame reads it
        if not converged:
            _free(jsc, live_ckpt_ids)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    # converged edge set is a star forest: every non-root has edges to its
    # component minimum only; roots are targets that never appear as sources
    members = edges.groupBy("a").agg(F.min("b").alias("component")).select(
        F.col("a").alias("node"), "component"
    )
    roots = (
        edges.select(F.col("b").alias("node"))
        .distinct()
        .join(edges.select(F.col("a").alias("node")).distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster summary per component: canonical (min) doc id and member
    count.  Docs not in any pair are singletons and excluded (they keep
    themselves)."""
    return (
        connected_components(pairs)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("node").alias("canonical_doc"))
        .select(
            F.col("component").cast("bigint").alias("cluster_id"),
            F.col("canonical_doc").cast("bigint").alias("canonical_doc"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )
