"""Synthesize an sf1-scale dataset from sf0.1 by 10x key-shifted
replication (VERDICT r15 item 8 — the committed testdata is read-only and
has no generator, so the scale probe builds its own).

Replication preserves the schema's join structure: every key column
(orderkey/custkey/suppkey/partkey/doc_id/vec_id/event_id/user_id) shifts by
k * 10_000_000 per replica k, so FKs stay consistent within a replica and
replicas never collide.  Content columns are perturbed per replica where
identical content would change the WORKLOAD character rather than its
scale: document text gets replica-tagged words (:func:`replica_text` —
otherwise every doc has 9 near-exact twins and the dedup probes measure a
pathological 10x-clique corpus, not a 10x corpus), embeddings get a tiny
replica-dependent first-component offset.  region/nation stay single-copy
(dimensions, referenced by unshifted nationkeys).

Usage: python tools/gen_sf1_synth.py [out_dir]   (default /tmp/sf1synth)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column
from pyspark.sql import functions as F

SHIFT = 10_000_000
REPLICAS = 10
SRC = "/root/testdata/sf0.1"
# every TAG_EVERY-th word of a replica's text carries the replica's tag
TAG_EVERY = 4

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def replica_text(text: Column, k: int) -> Column:
    """Document text of replica ``k``: replica 0 is the source text;
    replica k > 0 appends ``_r{k}`` to the words at positions 0, TAG_EVERY,
    2·TAG_EVERY, ... of the whitespace split.

    Only the word 3-grams (the dedup shingles) that start right after a
    tagged position hold no tagged word, so about 1 in 4 shingles is
    shared between two replicas of a document: cross-replica jaccard
    ≈ 0.25 / 1.75 ≈ 0.14, far under the 0.8 near-dup threshold (a single
    appended token left it near 1).  Word count and positions are
    unchanged, so near-duplicates within one replica stay near-duplicates
    (measured: sf0.1's 256 minhash pairs become exactly 256 per replica,
    none across replicas)."""
    if k == 0:
        return text
    tag = F.lit(f"_r{k}")
    return F.array_join(
        F.transform(
            F.split(text, r"\s+"),
            lambda w, i: F.when(
                (w != "") & (i % TAG_EVERY == 0), F.concat(w, tag)
            ).otherwise(w),
        ),
        " ",
    )


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1synth"
    if os.path.isdir(out) and os.listdir(out):
        print(f"{out} already populated; skipping")
        return
    from lakehouse_loader_spark import get_spark

    spark = get_spark("gen-sf1-synth")
    os.makedirs(out, exist_ok=True)
    for name in ("region", "nation"):
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(name, "copied")
    for name, keys in KEY_COLS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        parts = []
        for k in range(REPLICAS):
            rep = df
            for c in keys:
                rep = rep.withColumn(c, (F.col(c) + F.lit(k * SHIFT)).cast("long"))
            if name == "documents" and "text" in df.columns:
                rep = rep.withColumn("text", replica_text(F.col("text"), k))
            if name == "embeddings" and "embedding" in df.columns:
                elem_t = df.schema["embedding"].dataType.elementType.simpleString()

                # closure factory, NOT lambda defaults: pyspark inspects the
                # lambda's signature and a default parameter makes it look
                # 4-ary (WRONG_NUM_ARGS_FOR_HIGHER_ORDER_FUNCTION)
                def shift_first(k: int, t: str):
                    return lambda x, i: F.when(
                        i == 0, (x + F.lit(k * 1e-3)).cast(t)
                    ).otherwise(x)

                rep = rep.withColumn(
                    "embedding", F.transform("embedding", shift_first(k, elem_t))
                )
            parts.append(rep)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.repartition(16).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(name, "x10 written")
    spark.stop()


if __name__ == "__main__":
    main()
