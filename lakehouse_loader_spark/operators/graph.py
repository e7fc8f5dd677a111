"""Graph ranking: PageRank by power iteration.

The companion to connected components (operators/clusters.py): components
answer "which docs are one group", PageRank answers "which nodes matter" —
the signal crawl pipelines use for URL/domain prioritization (the original
use) and dedup pipelines use to pick cluster representatives.

One function, two regimes chosen by the distinct edge count (the shape of
clusters.py's LOCAL_CC_MAX_EDGES gate):

- at or below LOCAL_PR_MAX_EDGES, the driver regime: the distinct edge
  list is collected once as Arrow (``session.collect_bounded``; a staged
  edge list is read by pyarrow, with no Spark job), node ids map to
  dense indices with pyarrow, and each superstep is one numpy
  ``bincount`` followed by Spark's own ``round(double, scale)``.  Below
  the gate every distributed superstep is job-launch cost (sf0.01, 97k
  edges: 3.1s and 15 jobs per warm call; PERF_NOTES "PageRank: a driver
  regime").  Driver state is bounded by the constant gate, never by data
  scale.
- above it, the distributed regime: each superstep is one join (ranks ⋈
  out-degree-normalized edges, shuffled on src) + one aggregate (shuffled
  on dst) — the Pregel superstep expressed as DataFrames, so Catalyst/AQE
  pick the join strategy.  Driver state is a loop counter; rank state
  lives in the cluster.

Determinism: double summation order differs across partitionings/engines,
so each iteration's rank is rounded to ``scale`` decimals — both regimes
and the DuckDB twin re-synchronize to identical inputs every superstep and
the result is bit-stable at any parallelism (the float discipline of
queries/__init__.py applied per-iteration instead of per-result).  The
driver regime rounds with :func:`spark_round`, Spark's exact semantics.

At 100 TB (distributed regime): iterations compose lineage, but MEASURED
(PERF_NOTES r9, 800k-edge graph) the un-checkpointed chain stays ~40ms per
marginal superstep 50 deep — whole-stage codegen plus the
scratch-materialized edge table keep deep lineage cheap, and
localCheckpoint-every-5 costs 6x in materialization.  ``checkpoint_every``
therefore defaults off; it exists for recompute-on-executor-loss or
plan-compile regimes past hundreds of supersteps.  PageRank on power-law
graphs is within ~1% after 8-10 iterations (Page et al. 1999; Brin &
Page 1998, §2.1), and ``tol`` gives a measured L1 early exit.
"""

from __future__ import annotations

import decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_loader_spark.session import collect_bounded, local_frame

DAMPING = 0.85

# Edge-count ceiling for the driver regime.  Driver state is ~60 bytes per
# edge for long ids (two id columns, their dense indices, 1/deg weights,
# one contribution vector; string ids add their bytes), so 2M edges is
# ~120-250 MB of driver memory — bounded by this constant, not by data
# scale.  It covers sf0.1's 1.17M-edge trade graph; larger graphs take the
# distributed regime.
LOCAL_PR_MAX_EDGES = 2_000_000


def build_norm(e: DataFrame) -> DataFrame:
    """The normalized adjacency every distributed superstep scans: (src,
    dst, 1/deg) contribution edges plus zero-weight SELF-edges, over an
    already-distinct, cheap-to-rescan (src, dst) edge frame (a scratch or
    staged parquet scan) — lazy; callers materialize it (``pagerank`` to
    per-call scratch, queries/staging.py to a session-staged corpus
    artifact).

    Zero-weight SELF-edges keep every node present in each superstep's
    dst-keyed aggregate with exactly its true mass (x + 0.0 == x in IEEE
    doubles, so results are bit-identical to a left-join-from-the-node-set
    formulation) — an in-degree-0 node keeps its (1-d) base mass WITHOUT
    a second shuffle per superstep for the left join.  deg IS the
    distinct src set (out-degree ≥ 1 contract), so the self-edge branch
    needs no separate nodes distinct."""
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        e.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .unionByName(
            deg.select("src", F.col("src").alias("dst"), F.lit(0.0).alias("w"))
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    scale: int = 6,
    src: str = "src",
    dst: str = "dst",
    tol: float | None = None,
    checkpoint_every: int | None = None,
    assume_distinct: bool = False,
    broadcast_ranks_max: int = 2_000_000,
    staged_norm_path: str | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list (``src``/``dst``
    columns of one type, non-null).  Every node should have out-degree ≥ 1
    (undirect the graph first if it has sinks — the callers here do); rank
    mass is then conserved at Σ=N up to rounding.  Iteration 0 ranks the
    distinct ``src`` set; every superstep ranks the ``src`` set plus every
    ``dst``.  A node with in-degree 0 receives no contributions but keeps
    its (1-d) base mass every superstep — it does NOT vanish from the
    result; a sink's mass leaves the graph.  Returns (node, rank).

    Regime: without ``staged_norm_path``, the distinct edge list goes
    through ``session.collect_bounded`` with LOCAL_PR_MAX_EDGES as the
    bound; at or below the gate the whole computation runs on the driver
    and the result is an Arrow-built frame (``checkpoint_every``,
    ``broadcast_ranks_max`` and ``n_nodes`` do not apply).  Past the gate
    the distributed regime recomputes the edge list — callers that know
    their graph is large stage the norm and pass ``staged_norm_path``,
    which always takes the distributed regime.

    ``tol``: optional L1-delta early exit — stop once
    Σ|rank_i - rank_{i-1}| < tol (distributed: one extra action per
    superstep; the fixed-budget default keeps the plan fully lazy and
    oracle-exact).
    ``checkpoint_every``: localCheckpoint the rank frame every N
    supersteps, truncating the composed lineage.  Default OFF — measured
    (PERF_NOTES r9, 800k-edge graph, local[32]): the un-checkpointed
    50-superstep chain runs at ~0.1s/superstep while checkpoint_every=5
    costs 6x (materialization dominates; whole-stage codegen handles the
    deep plan fine).  Turn it on only where lineage depth genuinely bites:
    recompute-on-executor-loss cost on very large clusters, or driver
    plan-compile blowup past hundreds of supersteps.

    ``staged_norm_path``: path of an already-materialized normalized
    adjacency (the frame :func:`build_norm` returns) — skips the edge
    materialization and norm build entirely; the caller owns the files'
    lifetime (queries/staging.py stages one per corpus per session, the
    signature-table pattern the dedup family uses)."""
    from lakehouse_loader_spark.operators import materialize_shared

    if staged_norm_path is None:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if not assume_distinct:
            e = e.distinct()
        probe = collect_bounded(e, LOCAL_PR_MAX_EDGES)
        if probe is not None:
            return _driver_pagerank(
                edges.sparkSession, probe, e.schema["src"].dataType,
                iterations, scale, tol,
            )
        # the DISTINCT EDGE LIST is materialized first (r11): deg, the
        # self-edge node set and the contribution join all consume it, and
        # without the scratch the whole upstream edge derivation (often a
        # fact-table join + distinct) re-executes once per consumer —
        # per-branch column pruning defeats ReusedExchange (see
        # materialize_shared).  Measured at sf0.1 this halves the
        # norm-build wall (6.7s → ~3.5s warm)
        e = materialize_shared(e, label="pagerank-edges")
        norm, norm_path = materialize_shared(
            build_norm(e), label="pagerank-norm", with_path=True
        )
    else:
        norm_path = staged_norm_path
        norm = edges.sparkSession.read.parquet(norm_path)
    # the node set falls out of the norm scratch for free: exactly the
    # zero-weight self-edge rows (a column-pruned scan, no shuffle)
    nodes = norm.where(F.col("w") == 0.0).select(F.col("src").alias("node"))
    # per-superstep join strategy: ranks is one row per NODE — tiny next
    # to the edge frame.  Under the gate, hint it broadcast so each
    # superstep is a map-side join over the norm scan plus ONE shuffle
    # (the dst aggregate, already map-side-combined to ~node cardinality).
    # Past the gate (billions of nodes at 100 TB), fall back to the
    # shuffled join and let AQE pick the strategy per superstep.
    # ``n_nodes``: a staged norm's node count is immutable for the
    # artifact's lifetime, so callers holding one may pass the count and
    # skip this gate scan per call (at 100 TB the count is a full pass
    # over the norm artifact; per-session it is a constant)
    if n_nodes is None:
        n_nodes = nodes.count()
    small = n_nodes <= broadcast_ranks_max
    static = small and tol is None
    if static:
        # small-graph regime: the superstep chain is a fixed, fully known
        # plan (broadcast join + one map-side-combined aggregate per
        # superstep) — AQE's per-stage re-optimization barriers cost more
        # than they save (measured sf0.1: 5.5s → 2.6s over 8 supersteps).
        # Build and execute the chain in an ISOLATED session (shared
        # SparkContext, separate SQLConf — spark.newSession()) so the
        # static-planning confs never leak to queries the caller plans
        # concurrently on the shared session.  Past the gate the lazy AQE
        # plan returns unchanged — runtime skew/strategy re-planning is
        # exactly what a billion-node graph needs
        run_spark = _static_session(edges.sparkSession)
        norm = run_spark.read.parquet(norm_path)
        nodes = norm.where(F.col("w") == 0.0).select(F.col("src").alias("node"))
    bcast = (lambda df: F.broadcast(df)) if small else (lambda df: df)
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for it in range(iterations):
        r = bcast(ranks)
        new_ranks = (
            norm.join(r, norm.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("mass"))
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(1 - DAMPING) + F.lit(DAMPING) * F.col("mass"), scale
                ).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            new_ranks = new_ranks.localCheckpoint(eager=False)
        if tol is not None:
            new_ranks = new_ranks.localCheckpoint(eager=True)
            delta = (
                ranks.withColumnRenamed("rank", "prev")
                .join(new_ranks, "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    if static:
        # execute the chain ONCE in the isolated session, materialize the
        # node-sized result to PINNED scratch parquet, and hand the
        # CALLER's session a plain scan of it — the returned frame
        # composes with frames of the parent session (joins, selects)
        # which a foreign-session DataFrame would not.  pin=True takes
        # the result dir out of the tight generational reclamation window,
        # so a caller may hold the frame across arbitrarily many later
        # operators (reclaimed at exit, with a wide
        # PINNED_KEEP_GENERATIONS backstop so looping services don't leak
        # one dir per call forever) — the lifetime guarantee an
        # eager localCheckpoint would give, without paying a second pass
        # over the result (~0.35s/call measured at sf0.1)
        _, out_path = materialize_shared(
            ranks, label="pagerank-result", with_path=True, pin=True
        )
        return edges.sparkSession.read.parquet(out_path)
    return ranks


def _driver_pagerank(spark, edges, node_type, iterations, scale, tol) -> DataFrame:
    """The driver regime over a collected, distinct (src, dst) Arrow table:
    the same supersteps as the distributed chain, in numpy.

    Dense ids come from one dictionary encode of src ++ dst, so the first
    n_src dictionary entries are exactly the distinct src set (iteration
    0's node set) and every node has one slot.  Each superstep sums
    rank[src] * (1/deg) per dst with ``bincount``; a node with no in-edge
    sums to 0.0 — exactly the zero-weight self-edge's contribution in the
    distributed norm.  Only the summation order differs from Spark's, and
    the per-superstep rounding absorbs it as it does across
    partitionings."""
    import pyarrow as pa

    src, dst = edges.column(0), edges.column(1)
    if src.null_count or dst.null_count:
        raise ValueError("pagerank: edge endpoints must be non-null")
    n_e = edges.num_rows
    enc = pa.chunked_array(src.chunks + dst.chunks, src.type).combine_chunks()
    enc = enc.dictionary_encode()
    idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.intp)
    si, di = idx[:n_e], idx[n_e:]
    n = len(enc.dictionary)
    deg = np.bincount(si, minlength=n)
    w = 1.0 / deg[si]
    rank = np.ones(np.count_nonzero(deg))
    base, damp = 1 - DAMPING, DAMPING
    for _ in range(iterations):
        mass = np.bincount(di, weights=rank[si] * w, minlength=n)
        new = spark_round(base + damp * mass, scale)
        if tol is not None:
            # the inner join on node: the nodes ranked in both supersteps
            delta = np.abs(new[: len(rank)] - rank).sum()
            rank = new
            if delta < tol:
                break
        else:
            rank = new
    out = pa.table(
        {"node": enc.dictionary.slice(0, len(rank)), "rank": pa.array(rank)}
    )
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("rank", T.DoubleType())]
    )
    return local_frame(spark, out, schema)


_ROUND_CTX = decimal.Context(prec=800)


def spark_round(x, scale: int) -> np.ndarray:
    """Spark's ``round(double, scale)`` over a float64 array: HALF_UP on the
    double's decimal string (``BigDecimal.valueOf(d).setScale(scale,
    HALF_UP).doubleValue()``); NaN and ±inf pass through, -0.0 comes back
    as 0.0.

    Vectorized: ``floor(|x|·10^scale + 0.5) / 10^scale`` is exact unless
    the scaled value lies within float error of a .5 tie (the product's
    rounding and the decimal string's distance from the binary value are
    each ≤ |y|·2⁻⁵³), so only those values — and scales or magnitudes
    where the product itself is inexact — take the Decimal path over the
    shortest repr, which is the string Spark reads."""
    x = np.array(x, dtype=np.float64, ndmin=1)
    exact_scale = 0 <= scale <= 22  # 10^scale is an exact double
    p = 10.0**scale if exact_scale else 1.0
    with np.errstate(over="ignore", invalid="ignore"):
        y = np.abs(x) * p
        out = np.copysign(np.floor(y + 0.5) / p, x) + 0.0
        slow = np.isfinite(x) & (
            (np.abs(y - np.floor(y) - 0.5) <= y * 2.0**-48)
            | (y >= 2.0**50)
            | (not exact_scale)
        )
    q = decimal.Decimal(1).scaleb(-scale)
    for i in np.flatnonzero(slow):
        d = decimal.Decimal(repr(float(x[i])))
        out[i] = float(d.quantize(q, decimal.ROUND_HALF_UP, _ROUND_CTX)) + 0.0
    return out


_STATIC_SESSION = None


def _static_session(spark):
    """A cached ``spark.newSession()`` clone for the small-graph static
    regime: SHARED SparkContext (same executors, same scratch files),
    SEPARATE SQLConf — AQE off and a task count matched to node-sized
    frames.  Confs set here are invisible to the parent session, so an
    unrelated query planned concurrently keeps AQE (the r11 set/restore
    window leaked both confs to any concurrent planner)."""
    global _STATIC_SESSION
    if (
        _STATIC_SESSION is None
        or _STATIC_SESSION.sparkContext is not spark.sparkContext
    ):
        iso = spark.newSession()
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        iso.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(4, spark.sparkContext.defaultParallelism // 4)),
        )
        _STATIC_SESSION = iso
    # newSession() does NOT inherit runtime-set confs: carry the scratch
    # root over so the result materializes where the operator family's
    # cluster-visible scratch lives
    scratch = spark.conf.get("spark.lakehouse.scratch.dir", None)
    if scratch:
        _STATIC_SESSION.conf.set("spark.lakehouse.scratch.dir", scratch)
    else:
        # the cached session outlives callers: a scratch root set by an
        # EARLIER caller must not stick once the conf is unset (stale
        # root -> the result materializes to a dead/wrong location)
        _STATIC_SESSION.conf.unset("spark.lakehouse.scratch.dir")
    return _STATIC_SESSION


def pagerank_sql(edge_cte: str, iterations: int = 8, scale: int = 6) -> str:
    """The DuckDB oracle twin: the same supersteps unrolled as chained CTEs
    (recursive CTEs forbid aggregation in the recursive term).  ``edge_cte``
    must define ``edges(src, dst)`` already distinct.  Generated from the
    same constants as :func:`pagerank`, so the two cannot drift."""
    parts = [
        edge_cte,
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        # CASTs matter: DuckDB types bare decimal literals as DECIMAL and
        # "1.0/deg" as decimal division — the doubles must match Spark's
        # zero-weight self-edges mirror pagerank(): every node stays in
        # the dst aggregate with exact mass (x + 0.0 == x), so an
        # in-degree-0 node never vanishes and no left join is needed
        "norm AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg AS w"
        " FROM edges e JOIN deg USING (src)"
        " UNION ALL SELECT src, src, CAST(0.0 AS DOUBLE) FROM deg)",
        "p0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg)",
    ]
    base, damp = repr(1 - DAMPING), repr(DAMPING)
    for i in range(iterations):
        parts.append(
            f"p{i + 1} AS (SELECT n.dst AS node, "
            f"ROUND(CAST({base} AS DOUBLE) + CAST({damp} AS DOUBLE)"
            f" * SUM(p{i}.rank * n.w), {scale}) AS rank "
            f"FROM norm n JOIN p{i} ON n.src = p{i}.node GROUP BY n.dst)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM p{iterations}"
