"""Driver-materialization lint: the 100 TB scale contract.

Every ``collect()``/``toPandas()``/``toArrow()``/``toLocalIterator()``/
``first()``/``head()``/``take()`` in the package must be driver-bounded — an aggregate result, a schema/dim
probe, commit metadata (one row per file), or a gated driver regime's
bounded collect (``session.collect_bounded``, the one such site).
This test freezes the audited budget per file; ANY new materialization
site fails it until the author proves the new site is bounded and raises
the budget here (with a line in the table's rationale).

The audit (r9): cli.py prints query output (user-facing, explicitly
bounded by --limit); sinks/* collect commit METADATA (one row per data
file / manifest, never data rows), and sinks/dv.py one row per touched
32,768-position DV bucket; session.py's collect_bounded is the
one gated collect every driver regime (union-find, PageRank, small
staged artifacts) goes through; operators/clusters.py keeps the
star-contraction round's 2-long fingerprint first(), operators/graph.py
the optional tol early-exit's 1-row L1 aggregate, queries/staging.py the
IVF centroid rows; operators/similarity.py probes vector dim / k
centroids (constant-size); sources/pgwire.py:~1075 a 1-row
written-count aggregate; queries/pipeline.py collects min/max bounds
and constant-size stats frames.  COVERAGE.md's scale-notes section points here.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lakehouse_loader_spark")

# file (relative to the package) -> max allowed materialization call sites
BUDGET = {
    "cli.py": 2,
    # delta.py r10 +1: :3245 is the one-row one-pass MERGE dup-key/count
    # aggregate (folded from two passes, r9 advice); all six sites are
    # one-row aggregates or one-row-per-affected-file commit probes
    # delta.py −2: MERGE's stats range-join collect and key-bounds first()
    # are gone (driver-side stats pruning over the one source aggregate;
    # the file probe is keys.probe_matches)
    # delta.py −1: the DV bitmap collect moved to dv.collect_positions
    "sinks/delta.py": 2,  # r14 −1: the merge key-contract agg moved to keys.py
    # iceberg.py r10 +1: the CoW lineage probe (:3088) collects one row per
    # affected FILE (count per __path), bounded by live-file count like
    # every other sink-side commit-metadata collect
    # iceberg.py −2: MERGE's key-bounds collect and per-file probe
    # collect moved into keys.py (one source aggregate, one shared probe)
    # iceberg.py −1: the DV bitmap collect moved to dv.collect_positions
    "sinks/iceberg.py": 3,  # r14 −1: same move
    "sinks/incremental.py": 3,
    # dv.py: collect_positions, the DV write half both formats share, is
    # one aggregate grouped by (file, 32,768-position bucket) that ships a
    # position list of at most 512 longs or a 4 KB bitset per touched
    # bucket — bounded by the delete's roaring size, never one row per
    # deleted position
    "sinks/dv.py": 1,
    # inspect.py −2: describe_detail sums the file rows it builds instead
    # of collecting them back from the frames built from them
    "sinks/inspect.py": 0,
    # clusters.py −1: the union-find's count() and edge collect are one
    # session.collect_bounded call; left is the contraction round's
    # fingerprint first()
    "operators/clusters.py": 1,
    # session.py: collect_bounded's limit(max_rows + 1).toArrow(), the one
    # gated collect of every driver regime (LOCAL_CC_MAX_EDGES,
    # LOCAL_PR_MAX_EDGES, LOCAL_DEDUP_MAX_DOCS) — bounded by the caller's
    # constant gate, never by data scale
    "session.py": 1,
    # keys.py (r14): the ONE merge-key contract aggregate shared by
    # merge_delta/merge_iceberg — a single one-row agg (count / distinct /
    # has-null) over the merge source, moved here from both sinks
    # keys.py +1: probe_matches, the MERGE match probe both formats share,
    # collects one row per distinct (matched file set, tombstone flag)
    # pair — two per touched file when no key repeats across files, never
    # one per key
    "sinks/keys.py": 2,
    # ann_index.py (r15): load_ivf_index collects the centroid table
    # (n_centroids·dim-bounded constants) and ONE row for the
    # pair-dimension check; load_lsh_index collects its one-row config
    # table — never corpus-sized
    "sinks/ann_index.py": 3,
    # graph.py −1: pagerank's driver-regime edge probe moved to
    # session.collect_bounded; left is the tol early-exit's 1-row L1
    # aggregate
    "operators/graph.py": 1,
    # text.py (r15): bpe_train_merges collects ONE top-pair row per
    # training round, k (=8) rounds — constant driver state; the merge
    # list it accumulates is the k-entry trained artifact itself
    "operators/text.py": 1,
    "operators/similarity.py": 5,
    "sources/pgwire.py": 1,
    "queries/pipeline.py": 4,
    # staging.py r13: the one collect reads the staged IVF CENTROID rows
    # (n_centroids=16 rows, constant driver state — the same bounded
    # artifact train_ivf_centroids_sampled returns; queries must probe
    # the exact centroids the inverted file was assigned under)
    # staging.py −1: the driver regime's bounded collect moved to
    # session.collect_bounded
    "queries/staging.py": 1,
}

_PAT = re.compile(r"\.(collect|toPandas|toArrow|toLocalIterator|first|head|take)\(")


def _count(path: str) -> int:
    n = 0
    with open(path) as fh:
        for line in fh:
            code = line.split("#")[0]
            if _PAT.search(code):
                n += 1
    return n


def test_no_new_driver_materialization_sites():
    over = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, PKG)
            got = _count(full)
            allowed = BUDGET.get(rel, 0)
            if got > allowed:
                over.append((rel, got, allowed))
    assert not over, (
        "new driver-side materialization site(s) — prove each is bounded "
        f"(aggregate/metadata/constant-size) then raise its budget: {over}"
    )


def test_budget_is_not_stale():
    # a removed site should shrink the budget too, so the lint stays tight
    slack = []
    for rel, allowed in BUDGET.items():
        got = _count(os.path.join(PKG, rel))
        if got < allowed:
            slack.append((rel, got, allowed))
    assert not slack, f"budget exceeds actual sites, tighten it: {slack}"


# the driver↔Spark boundary calls, each allowed in session.py only
_BOUNDARY = ("createDataFrame(", "toArrow(")


def test_boundary_calls_only_in_session():
    # a frame built from driver rows goes through session.local_frame (a
    # list handed to createDataFrame plans as ``Scan ExistingRDD``, whose
    # every action starts Python workers) and a gated collect through
    # session.collect_bounded
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            rel = os.path.relpath(os.path.join(root, f), PKG)
            if f.endswith(".py") and rel != "session.py":
                with open(os.path.join(root, f)) as fh:
                    for n, line in enumerate(fh, 1):
                        code = line.split("#")[0]
                        bad += [(rel, n, c) for c in _BOUNDARY if c in code]
    assert not bad, f"cross the boundary through lakehouse_loader_spark.session: {bad}"


# Python-worker call sites allowed in sinks/ (file -> count): every other
# sink path runs in the JVM, so no write, DML or read starts a pandas worker
PY_WORKER_BUDGET = {
    # write_webdataset_shards and write_avro_shards: each executor streams
    # its partition into a tar / Avro file with Python's tarfile and the
    # Avro encoder; neither format has a JVM writer here
    "sinks/export.py": 2,
    # the Iceberg bucket[N] partition transform: the spec's 32-bit
    # murmur3 of the value's bytes, which no Spark function computes (the
    # string and the widened-long UDF)
    "sinks/transforms.py": 2,
}
_PY_WORKER = ("applyInPandas(", "mapInPandas(", "pandas_udf", "sparkContext.broadcast(")


def _py_worker_sites(path: str) -> int:
    with open(path) as fh:
        return sum(
            1 for line in fh if any(c in line.split("#")[0] for c in _PY_WORKER)
        )


def test_python_worker_sites_in_sinks_are_budgeted():
    # a DV bitmap built in applyInPandas or expanded in mapInPandas made a
    # session's first DV delete pay the ~2.5 s Python-worker start; the
    # codec's positions now cross in a JVM-native per-bucket form
    # (sinks/dv.py), and a sparkContext.broadcast in a sink leaked one
    # broadcast per call
    sinks = os.path.join(PKG, "sinks")
    got = {
        f"sinks/{f}": _py_worker_sites(os.path.join(sinks, f))
        for f in sorted(os.listdir(sinks))
        if f.endswith(".py")
    }
    got = {rel: n for rel, n in got.items() if n or rel in PY_WORKER_BUDGET}
    assert got == PY_WORKER_BUDGET, (
        "Python-worker call sites in sinks/ differ from the budget: run the "
        f"work in the JVM, or prove it cannot and budget it here: {got}"
    )
