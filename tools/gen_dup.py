#!/usr/bin/env python3
"""Derive a DUPLICATE-HEAVY corpus — the regime the near-dup operators
are designed for, which the driver testdata deliberately lacks (its
top pair cosines are ~0.45-0.60 and its docs are weakly similar).

Products under .scratch/ at the repository root (derived, regenerable, no RNG —
everything is a pure function of existing keys):

  dup0.1/ — sf0.1 volumes with manufactured duplicate structure:
    documents: the 5 000 originals plus, for every doc_id % 5 == 0,
      TWO derived near-duplicates —
        +100000: verbatim copy (exact dup; jaccard 1.0, hamming 0)
        +200000: same text with every 7th token replaced by 'zq<k>'
                 (mutation rate ~14% -> a true NEAR dup: high but
                 non-1.0 jaccard, small nonzero simhash hamming)
      -> ~40% of the corpus is duplicate mass in clusters of 3.
    embeddings: the 2 000 originals plus, for every vec_id % 5 == 0,
      +100000: identical vector (cosine 1.0 tie plateau)
      +200000: tiny deterministic per-dimension perturbation
               (cosine ~0.999 — inside any near-dup threshold,
                outside exact-tie)

Used by tools/dupbench.py to measure, in the operators' DESIGN regime:
recall/precision of each near-dup path against planted truth, and
whether emb_neardup_semdedup's angular-bound pruning ENGAGES (L ~ 1).

Usage: python3 tools/gen_dup.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from cvemate_spark.session import get_spark  # noqa: E402
from cvemate_spark.tables import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "dup0.1"
)
EXACT_OFF = 100_000
NEAR_OFF = 200_000
PICK_MOD = 5  # every 5th doc/vec gets the two derived duplicates


def main() -> int:
    spark = get_spark("gen_dup", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    docs = load_table(spark, SRC, "documents")
    picked = docs.filter(F.col("doc_id") % PICK_MOD == 0)
    exact = picked.select(
        (F.col("doc_id") + EXACT_OFF).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    # every 7th token -> 'zq<tokenindex mod 9>' (deterministic, keeps
    # token count; ~14% mutation so 3-gram jaccard stays well above
    # typical 0.3 thresholds but below 1.0)
    mutated_text = F.expr(
        "array_join(transform(split(text, ' '), (t, i) -> "
        "CASE WHEN (i + 1) % 7 = 0 THEN concat('zq', i % 9) ELSE t END), ' ')"
    )
    near = picked.select(
        (F.col("doc_id") + NEAR_OFF).alias("doc_id"),
        mutated_text.alias("text"),
        "lang", "source",
        F.length(mutated_text).alias("n_chars"),
    )
    docs.unionByName(exact).unionByName(near).repartition(8).write.mode(
        "overwrite"
    ).parquet(os.path.join(OUT, "documents.parquet"))

    emb = load_table(spark, SRC, "embeddings")
    epicked = emb.filter(F.col("vec_id") % PICK_MOD == 0)
    e_exact = epicked.select(
        (F.col("vec_id") + EXACT_OFF).alias("vec_id"), "embedding", "label"
    )
    # tiny deterministic perturbation: +0.001 * ((p*7 + vec_id) % 5 - 2)
    # per dimension — cosine vs the original ~0.999+
    perturbed = F.expr(
        "transform(embedding, (x, p) -> "
        "x + 0.001 * double((p * 7 + vec_id) % 5 - 2))"
    )
    e_near = epicked.select(
        (F.col("vec_id") + NEAR_OFF).alias("vec_id"),
        perturbed.alias("embedding"),
        "label",
    )
    emb.unionByName(e_exact).unionByName(e_near).repartition(8).write.mode(
        "overwrite"
    ).parquet(os.path.join(OUT, "embeddings.parquet"))

    # small tables verbatim so any registered query can run against it
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events"):
        load_table(spark, SRC, name).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{name}.parquet")
        )
    print(f"[dup0.1] written under {OUT}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
