"""Scale-out extension operators (SURVEY.md §2c) — dedup, similarity search,
text analysis, multimodal columns, as-of join.

Design rule for every operator here: express the computation as
joins/aggregations/windows over partitioned data, so the same code runs
at 100 TB on a real cluster.  The one exception is a gated driver
regime: at or below a module-constant size gate,
``session.collect_bounded`` brings a small input to the driver as an
Arrow table (None above the gate), numpy or pyarrow finishes it without per-job and
Python-worker overhead, and ``session.local_frame`` hands the result back
as a ``LocalTableScan``; above the gate the distributed path runs
unchanged.  The union-find (``clusters.LOCAL_CC_MAX_EDGES``), PageRank
(``graph.LOCAL_PR_MAX_EDGES``) and the small staged corpus artifacts
(``queries/staging.py``) are the gated regimes.  No operator calls
``createDataFrame`` or ``toArrow`` itself: ``tests/test_collect_lint.py``
keeps both in ``session.py`` and budgets every other collect site, with
its rationale.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

_SCRATCH_DIRS: list[str] = []
# pinned scratch (pin=True results): reclaimed at interpreter exit, with a
# wide generational backstop so a long-lived service calling pagerank-style
# static operators in a loop does not leak one result dir per call forever
_PINNED_DIRS: list[str] = []

# how many materialized generations stay on disk: older ones are reclaimed
# eagerly on the next materialize_shared call (their consumers have long
# since run — the engine executes one query at a time), bounding scratch
# growth in a long bench/driver session instead of deferring everything to
# interpreter exit.  A frame re-collected after its scratch was reclaimed
# fails loudly (missing files), never silently wrong.
SCRATCH_KEEP_GENERATIONS = 8

# pinned results get a much wider window: a caller may hold a pin=True
# frame across arbitrarily many later operators, so eager reclamation is
# wrong — but a service looping pagerank(static=True) forever must not
# leak one node-sized dir per call for the process lifetime (ADVICE r12).
# Holding MORE than this many pinned results alive simultaneously is
# unsupported (the oldest's files vanish; the stale frame fails loudly on
# re-collect, never silently wrong — same contract as the unpinned window).
PINNED_KEEP_GENERATIONS = 64


def _staged_write(df: DataFrame, n_out: int, path: str) -> None:
    """Write a scratch/staged artifact with a bounded file count.

    repartition, NOT coalesce (r16, VERDICT r15 item 2): ``coalesce(n)``
    does not insert an exchange — it folds the *upstream compute* of the
    final stage into n tasks, so at 100 TB the whole signature/shingle
    build would run n_out-wide.  ``repartition(n)`` keeps the build
    full-width and pays one round-robin exchange of the already-reduced
    artifact rows (A/B at sf0.1: no local cost).
    The r15 lesson still holds: never probe ``df.rdd.getNumPartitions()``
    first — under AQE the probe materializes every intermediate stage and
    the write re-executes them from scratch."""
    df.repartition(n_out).write.mode("overwrite").parquet(path)


def _scratch_path(spark, name: str) -> str:
    """A fresh, not-yet-existing ``<root>/<name>-<uuid>`` path.  The root is
    ``spark.lakehouse.scratch.dir`` when set (cluster-visible HDFS/S3
    scratch on a real cluster — executors must be able to write it), else
    the driver-local OS temp dir."""
    root = spark.conf.get("spark.lakehouse.scratch.dir", None) or tempfile.gettempdir()
    sep = "/" if "://" in root else os.sep
    return f"{root.rstrip(sep)}{sep}{name}-{uuid.uuid4().hex}"


def _rm_scratch(path: str, spark=None) -> None:
    """Remove one scratch dir — shutil for local paths, the Hadoop
    FileSystem API for scheme'd URIs (hdfs://, s3a://...), where
    shutil.rmtree would silently no-op."""
    if "://" in path and spark is not None:
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception:
            pass  # best-effort: scratch cleanup must never fail a query
    else:
        shutil.rmtree(path, ignore_errors=True)


def _reap_scratch(spark=None) -> None:
    while _SCRATCH_DIRS:
        _rm_scratch(_SCRATCH_DIRS.pop(), spark)
    while _PINNED_DIRS:
        _rm_scratch(_PINNED_DIRS.pop(), spark)


def materialize_shared(
    df: DataFrame,
    label: str = "shared",
    with_path: bool = False,
    pin: bool = False,
) -> DataFrame | tuple[DataFrame, str]:
    """Materialize a multiply-consumed frame to session-scoped scratch
    parquet and return a frame that SCANS the materialized files.

    The sharing pattern for an expensive subplan referenced by several
    subtrees of one query (dedup shingles feed df-rank, prefix-join and
    verify sides).  The alternatives all fail at scale or in lifecycle:
    - ``persist()`` pins a corpus-sized frame in executor memory for the
      SESSION whenever the returned lazy plan references it — it can never
      be released synchronously (VERDICT r6 item 3);
    - recompute re-runs the subplan once per consumer (1.8–3.1× on the
      dedup family at sf0.1, PERF_NOTES.md r7);
    - a shared repartition exchange never canonicalizes equal across
      consumers (per-branch column pruning rewrites each copy), so
      ReusedExchange does not fire.
    A scratch parquet costs one write pass, then every consumer runs an
    independent COLUMN-PRUNED columnar scan (the df-count branch reads only
    the 8-byte hash column) and holds nothing in executor memory.  Disk
    lifecycle: the newest ``SCRATCH_KEEP_GENERATIONS`` dirs stay; older
    generations are reclaimed on the next call (and everything at
    interpreter exit), so a long bench/driver session's scratch footprint
    is bounded.  On a multi-node cluster set ``spark.lakehouse.scratch.dir``
    to a cluster-visible path (HDFS/S3 scratch) — executors write the
    files, and reclamation goes through the Hadoop FileSystem API.

    ``pin=True`` excludes the dir from generation reclamation (exit-time
    cleanup only) — for RESULT frames a caller may hold across arbitrarily
    many later operators (pagerank's static path), where the generational
    window would delete the files out from under the held frame.  Cheaper
    than an extra localCheckpoint pass over the result: the already-written
    scratch IS the pinned copy.
    """
    spark = df.sparkSession
    path = _scratch_path(spark, f"lhl-scratch-{label}")
    # bound the file count: tiny-file task overhead dominates the scratch
    # round-trip locally (A/B at sf0.1: 3.75→2.74s on dedup_ngram,
    # PERF_NOTES r7) — parallelism/4 keeps writes wide on a real cluster,
    # and parquet's splittability restores full READ parallelism there
    # regardless of file count
    n_out = max(8, spark.sparkContext.defaultParallelism // 4)
    _staged_write(df, n_out, path)
    if not (_SCRATCH_DIRS or _PINNED_DIRS):
        atexit.register(_reap_scratch)
    if pin:
        _PINNED_DIRS.append(path)
        while len(_PINNED_DIRS) > PINNED_KEEP_GENERATIONS:
            _rm_scratch(_PINNED_DIRS.pop(0), spark)
    else:
        _SCRATCH_DIRS.append(path)
        # generation reclamation: retire the oldest scratch beyond the keep
        # window now, while the session (and its Hadoop FS) is still alive
        while len(_SCRATCH_DIRS) > SCRATCH_KEEP_GENERATIONS:
            _rm_scratch(_SCRATCH_DIRS.pop(0), spark)
    out = spark.read.parquet(path)
    # with_path lets a caller re-scan the same scratch from ANOTHER
    # SparkSession (pagerank's isolated static-conf session) — the files
    # are session-agnostic parquet either way
    return (out, path) if with_path else out


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to cluster parallelism when the input arrives in too
    few partitions (e.g. one small parquet file ⇒ one task ⇒ one core).

    CPU-heavy per-row operators (shingling, signatures, decode) call this
    first: the repartition shuffle costs O(data) but unlocks N-way
    parallelism.  At 100 TB inputs already have thousands of partitions and
    this is a no-op."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
