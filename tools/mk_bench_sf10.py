#!/usr/bin/env python3
"""Second scale decade for the data-bound family (VERDICT r3 item 2).

Runs the dedup/ANN/text family at sf0.1 -> sf1 -> sf10 (5 k / 50 k /
500 k docs, 2 k / 20 k / 200 k vectors) and records, PER DECADE, wall
time (min of `runs` passes) and CANDIDATE-PAIR counts — the quantity
the banding-growth contract bounds (sum over buckets of C(n_b, 2) =
the exact work the candidate join must do).

What the first measurement pass taught (kept as recorded evidence in
the "saturation_evidence" counters; SCALE.md round 4 has the full
story):

  - TOKEN-feature simhash candidates grow SUPER-linearly at every
    bucket width on this corpus — signature CONCENTRATION (population-
    biased bits from a presence-saturated vocabulary), which wider
    buckets cannot fix and df-cap/IDF weighting provably break (recall
    151 -> 13 of 256). The fix is Manku-style SHINGLE features
    (dedup_simhash_shingle, oracle-proven): near-uniform signatures,
    99.4% verify precision, and bucket growth works again.
  - The contract layout schedule for shingle-simhash (hamming<=2):
    32-bit/4-chunk pairs (65 536 buckets) -> 60-bit/6-chunk (2^20) ->
    60-bit/4-chunk (2^30), holding the uniform birthday floor
    n²·bands/(2·buckets) below the true-pair mass at every decade.
  - SemDeDup cells must grow ∝ n (CONSTANT cell occupancy, stride 50
    throughout) to keep within-cell pairs linear; a sqrt-cell schedule
    is n^1.5 = 32x/decade. Cells ∝ n is affordable only with the
    Arrow-GEMM assignment (assign_cells_gemm / emb_semdedup_gemm,
    oracle-proven identical), never the n·C crossJoin fold.

Budget: contract-path candidates and wall time <= 2x LINEAR per decade
(ratio <= 20 for 10x data). Writes BENCH_sf10.json.

Usage: python3 tools/mk_bench_sf10.py [--runs N] [--out BENCH_sf10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from cvemate_spark.session import get_spark  # noqa: E402
from cvemate_spark.tables import load_table  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DECADES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, ".scratch", "sf1"),
    "sf10": os.path.join(REPO, ".scratch", "sf10"),
}
# shingle-simhash (bits, chunks) per decade — buckets 2^16 / 2^20 / 2^30
SIMHASH_LAYOUT = {"sf0.1": (32, 4), "sf1": (60, 6), "sf10": (60, 4)}
SEMDEDUP_STRIDE = 50  # cells ∝ n: constant occupancy, GEMM-assigned


def _pairs_sum(grouped) -> int:
    row = grouped.agg(
        F.sum(F.expr("cast(cnt as bigint) * (cnt - 1) / 2")).alias("p")
    ).first()
    return int(row["p"] or 0)


def minhash_candidates(docs) -> int:
    from cvemate_spark.functions.text import band_signature_exprs
    from cvemate_spark.operators.dedup import (
        doc_shingle_arrays,
        minhash_signatures_local,
    )

    sigs = minhash_signatures_local(doc_shingle_arrays(docs))
    band_exprs = band_signature_exprs("spark")
    banded = sigs.select(
        F.posexplode(F.array(*[F.expr(e) for e in band_exprs])).alias("band", "sig")
    )
    return _pairs_sum(banded.groupBy("band", "sig").agg(F.count("*").alias("cnt")))


def simhash_candidates(docs, max_hamming, bits, chunks, features) -> int:
    from cvemate_spark.operators.dedup import _simhash_band_exprs, simhash_signatures_wide

    sigs = simhash_signatures_wide(docs, bits, features)
    exprs = _simhash_band_exprs(max_hamming, chunks, bits // chunks)
    banded = sigs.select(
        F.posexplode(F.array(*[F.expr(e) for e in exprs])).alias("band", "key")
    )
    return _pairs_sum(banded.groupBy("band", "key").agg(F.count("*").alias("cnt")))


def semdedup_candidates(emb, stride: int) -> int:
    from cvemate_spark.operators.similarity import assign_cells_gemm, stride_cents

    assigned = assign_cells_gemm(emb, stride_cents(emb, stride))
    return _pairs_sum(assigned.groupBy("cent_id").agg(F.count("*").alias("cnt")))


def lsh_probe_rows(emb, n_queries: int = 8) -> int:
    from cvemate_spark.operators.similarity import lsh_signature_expr

    sigs = emb.withColumn("sig", F.expr(lsh_signature_expr("spark")))
    q = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("sig").alias("q_sig")
    )
    probes = q.select(
        "q_id",
        F.explode(
            F.array(
                F.col("q_sig"),
                *[F.col("q_sig").bitwiseXOR(F.lit(1 << b)) for b in range(8)],
            )
        ).alias("sig"),
    )
    return sigs.join(probes, "sig").count()


def bm25_postings(docs) -> int:
    from cvemate_spark.queries.retrieval_ops import BM25_TERMS

    return (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .count()
    )


def timed(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_sf10.json"))
    args = ap.parse_args()

    from cvemate_spark.operators import dedup
    from cvemate_spark.operators.similarity import semdedup_gemm
    from cvemate_spark.queries import REGISTRY

    spark = get_spark("bench_sf10", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    doc = {
        "metric": "second scale decade: data-bound family at sf0.1/sf1/sf10 "
        "(5k/50k/500k docs, 2k/20k/200k vecs), banding-growth contract applied",
        "protocol": f"min of {args.runs} passes per query per decade, local[32]",
        "budget": "contract-path candidates AND wall time <= 2x linear per decade (<= 20x)",
        "contract": {
            "simhash": "SHINGLE features (dedup_simhash_shingle), layout "
            + ", ".join(f"{k}={b}bit/{c}ch" for k, (b, c) in SIMHASH_LAYOUT.items()),
            "semdedup": f"cells ∝ n (stride {SEMDEDUP_STRIDE} at every decade), "
            "Arrow-GEMM assignment (emb_semdedup_gemm)",
        },
        "decades": {},
    }

    for name, sf_dir in DECADES.items():
        if not os.path.isdir(sf_dir):
            print(f"skip {name}: {sf_dir} missing (run tools/gen_sf.py)")
            continue
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        bits, chunks = SIMHASH_LAYOUT[name]
        d: dict = {"times_sec": {}, "candidates": {}, "saturation_evidence": {}}

        d["candidates"]["dedup_minhash_band_collisions"] = minhash_candidates(docs)
        d["candidates"]["simhash_shingle_contract_layout"] = simhash_candidates(
            docs, 2, bits, chunks, "shingle"
        )
        d["candidates"]["semdedup_within_cell_pairs"] = semdedup_candidates(
            emb, SEMDEDUP_STRIDE
        )
        d["candidates"]["ann_lsh_probe_rows"] = lsh_probe_rows(emb)
        d["candidates"]["bm25_postings_rows"] = bm25_postings(docs)
        # evidence counters (exempt from budget): what saturation looks
        # like if the contract is NOT applied
        d["saturation_evidence"]["simhash_token_32bit"] = simhash_candidates(
            docs, 2, 32, 4, "token"
        )
        d["saturation_evidence"]["simhash_shingle_32bit_floor"] = (
            d["candidates"]["simhash_shingle_contract_layout"]
            if (bits, chunks) == (32, 4)
            else simhash_candidates(docs, 2, 32, 4, "shingle")
        )

        d["times_sec"]["dedup_minhash"] = timed(
            lambda: REGISTRY.specs["dedup_minhash"].builder(spark, sf_dir).collect(),
            args.runs,
        )
        d["times_sec"]["dedup_simhash_shingle"] = timed(
            lambda: dedup.simhash_pairs(
                docs, max_hamming=2, bits=bits, chunks=chunks, features="shingle"
            )
            .orderBy("d1", "d2", "hamming")
            .collect(),
            args.runs,
        )
        d["times_sec"]["dedup_canonical"] = timed(
            lambda: dedup.dedup_components(
                dedup.simhash_pairs(
                    docs, max_hamming=2, bits=bits, chunks=chunks, features="shingle"
                )
            ).count(),
            args.runs,
        )
        d["times_sec"]["emb_semdedup_gemm"] = timed(
            lambda: semdedup_gemm(
                emb, tau=0.30, centroid_stride=SEMDEDUP_STRIDE
            ).count(),
            args.runs,
        )
        d["times_sec"]["ann_lsh"] = timed(
            lambda: REGISTRY.specs["ann_lsh"].builder(spark, sf_dir).collect(),
            args.runs,
        )
        d["times_sec"]["bm25_topk"] = timed(
            lambda: REGISTRY.specs["bm25_topk"].builder(spark, sf_dir).collect(),
            args.runs,
        )
        doc["decades"][name] = d
        print(f"[{name}] {json.dumps(d)}", flush=True)

    names = [n for n in DECADES if n in doc["decades"]]
    growth: dict = {}
    fails: list[str] = []
    for a, b in zip(names, names[1:]):
        da, db = doc["decades"][a], doc["decades"][b]
        g: dict = {"times": {}, "candidates": {}, "saturation_evidence": {}}
        for q, t in db["times_sec"].items():
            base = da["times_sec"].get(q)
            if base:
                r = round(t / base, 2)
                g["times"][q] = r
                if r > 20:
                    fails.append(f"{b}/{a} time {q} {r}x")
        for c, v in db["candidates"].items():
            base = da["candidates"].get(c)
            if base:
                r = round(v / base, 2)
                g["candidates"][c] = r
                if r > 20:
                    fails.append(f"{b}/{a} candidates {c} {r}x")
        for c, v in db["saturation_evidence"].items():
            base = da["saturation_evidence"].get(c)
            if base:
                g["saturation_evidence"][c] = round(v / base, 2)
        growth[f"{b}_over_{a}"] = g
    doc["growth"] = growth
    doc["budget_verdict"] = "PASS" if not fails else f"FAIL: {fails}"

    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"-> {args.out}: {doc['budget_verdict']}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
