"""tools/gen_sf1_synth.py's per-replica text transform: replicas of one
document must not be near-duplicates of each other (else the sf1 synth is
a 10-clique corpus), while near-duplicates within a replica stay so."""

from __future__ import annotations

import importlib.util
import itertools
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "gen_sf1_synth.py",
)


def _replica_text():
    spec = importlib.util.spec_from_file_location("gen_sf1_synth", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.replica_text


def _shingles(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 1.0


def test_replicas_are_not_near_duplicates(spark):
    replica_text = _replica_text()
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    rows = docs.select(
        "text",
        *[replica_text(F.col("text"), k).alias(f"r{k}") for k in (0, 1, 2)],
    ).collect()
    assert rows
    for r in rows:
        assert r.r0 == r.text
        reps = [_shingles(t) for t in (r.r0, r.r1, r.r2)]
        for t in (r.r1, r.r2):
            assert len(t.split()) == len(r.text.split())
        for a, b in itertools.combinations(reps, 2):
            if a or b:
                assert _jaccard(a, b) < 0.8
    # within one replica, the near-duplicate relation is unchanged
    src = [_shingles(r.text) for r in rows]
    rep = [_shingles(r.r1) for r in rows]
    for i, j in itertools.combinations(range(len(rows)), 2):
        assert (_jaccard(src[i], src[j]) >= 0.8) == (_jaccard(rep[i], rep[j]) >= 0.8)
