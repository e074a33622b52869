#!/usr/bin/env python3
"""Merge-cost scaling bench: bucket-scoped versioned merge vs
whole-table rewrite.

The contract under measurement (VERDICT r7 item 3, r8 items 3/6): with
the bucketed versioned table, merge cost is bounded by the BATCH
footprint (buckets touched x bucket size), not the TARGET size — the
reference's point-update economics (mongodb_handler.py:141-195) at
file granularity, under an atomic cross-bucket commit. The
`merge_upsert` + `write_atomic` path rewrites the whole target
directory per merge regardless of batch size.

Measured per run, all through `merge_versioned`:
  * the batch-size ladder (uniform keys) — bytes_rewritten ∝ batch
  * a HOT-BUCKET batch (all keys hashing into ~1% of buckets, the
    zipf worst case): same row count as a uniform rung, so the skew
    delta is isolated (r8 item 6)
  * incremental consumption: read_changed_between(checkpoint version)
    vs a full-table scan after the hot merge
  * merge-on-read batches, the read premium of standing deltas, and
    the compact_versioned pass that folds them
  * the write_atomic whole-rewrite baseline

Usage: python3 tools/mergebench.py [sf_dir] [n_buckets] [xN]
  xN (e.g. x10) replicates orders N times with distinct keys — the
  second decade (VERDICT r8 item 3: n_buckets ∝ table size needs two
  points: 1.5M/256 and 15M/4096). Output goes to the committed record
  the inputs repeat (MERGEBENCH.json: sf1, 256 buckets, x1;
  MERGEBENCH_4096.json: sf0.1, 4096 buckets, x10), else to
  MERGEBENCH_<differing inputs>.json (tools/artifacts.py).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = f"{REPO}/.scratch/sf1"
N_BUCKETS = 256
MULT = 1
for a in sys.argv[1:]:
    if a.startswith("x") and a[1:].isdigit():
        MULT = int(a[1:])
    elif "/" in a:
        SF_DIR = a
    elif a.isdigit():
        N_BUCKETS = int(a)

SCRATCH = f"{REPO}/.scratch/mergebench"
T0 = "2026-01-01 00:00:00"
T1 = "2026-01-02 00:00:00"
T2 = "2026-01-03 00:00:00"


def main() -> None:
    from cvemate_spark.operators.merge import (
        bucket_expr, merge_upsert, write_atomic,
    )
    from cvemate_spark.operators.merge_versioned import (
        compact_versioned, latest_version, merge_scoped_versioned,
        merge_scoped_versioned_mor, read_bucket_table_versioned,
        read_changed_between, write_bucket_table_versioned,
    )
    from cvemate_spark.session import get_spark

    spark: SparkSession = get_spark()
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    if MULT > 1:
        # the second decade: N disjoint key-shifted replicas (key*N+rep
        # keeps keys unique and the hash distribution uniform)
        rep = spark.range(MULT).withColumnRenamed("id", "rep")
        orders = orders.crossJoin(F.broadcast(rep)).select(
            (F.col("o_orderkey") * MULT + F.col("rep")).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    target_rows = orders.count()
    base = merge_upsert(None, orders, key="o_orderkey", now=T0)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    path = f"{SCRATCH}/versioned"
    t = time.monotonic()
    write_bucket_table_versioned(base, path, key="o_orderkey",
                                 n_buckets=N_BUCKETS)
    load_s = time.monotonic() - t

    # batch sizes as modulus filters: ~1/100000 .. ~1/10 of the keys
    results = []
    for mod in (100_000, 10_000, 1_000, 100, 10):
        batch = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        )
        n_batch = batch.count()
        t = time.monotonic()
        stats = merge_scoped_versioned(spark, path, batch, now=T1)
        dt = time.monotonic() - t
        results.append(
            {
                "mode": "scoped_versioned",
                "batch_rows": n_batch,
                "batch_frac": n_batch / target_rows,
                "sec": round(dt, 3),
                **stats,
            }
        )
        print(json.dumps(results[-1]))

    # ---- hot-bucket (zipf worst case, r8 item 6): same row count as
    # the mod=1000 uniform rung, every key hashing into <=1% of the
    # buckets — the bound is buckets_touched <= hot set, so a skewed
    # batch writes FEWER, larger generations; wall should not regress
    uniform_rows = next(
        (r for r in results if r["batch_rows"] >= 1000),
        results[-1],  # tiny sf: largest available rung, not a crash
    )
    hot_buckets = max(N_BUCKETS // 100, 1)
    hot = (
        orders.withColumn("__b", bucket_expr("o_orderkey", N_BUCKETS))
        .filter(F.col("__b") < hot_buckets)
        .drop("__b")
        .limit(uniform_rows["batch_rows"])
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    n_hot = hot.count()
    checkpoint = latest_version(path)
    t = time.monotonic()
    stats = merge_scoped_versioned(spark, path, hot, now=T2)
    dt = time.monotonic() - t
    results.append(
        {
            "mode": "scoped_versioned_hot_bucket",
            "hot_bucket_frac": hot_buckets / N_BUCKETS,
            "batch_rows": n_hot,
            "sec": round(dt, 3),
            "uniform_control_sec": uniform_rows["sec"],
            "uniform_control_bytes": uniform_rows["bytes_rewritten"],
            **stats,
        }
    )
    print(json.dumps(results[-1]))

    # ---- incremental consumption: a consumer checkpointed at the
    # version before the hot merge reads only that merge's buckets vs
    # a full scan (both forced with .count())
    t = time.monotonic()
    inc_rows = read_changed_between(spark, path, checkpoint).count()
    inc_dt = time.monotonic() - t
    t = time.monotonic()
    full_rows = read_bucket_table_versioned(spark, path).count()
    full_dt = time.monotonic() - t
    results.append(
        {
            "mode": "read_changed_between",
            "rows_returned": inc_rows,
            "sec": round(inc_dt, 3),
            "full_scan_rows": full_rows,
            "full_scan_sec": round(full_dt, 3),
        }
    )
    print(json.dumps(results[-1]))

    # ---- MERGE-ON-READ economics (round-10 addition): the same
    # batches through merge_scoped_versioned_mor — write bytes ∝ BATCH
    # ROWS (delta generations only), vs the CoW rungs above whose
    # bytes ∝ touched-bucket SIZE. Then the read-side debt (snapshot
    # wall with deltas standing) and the compaction that retires it.
    for mod, tag in ((100_000, "tiny"), (1_000, "rung")):
        mbatch = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
        )
        n_m = mbatch.count()
        cow_control = next(
            (r for r in results
             if r["mode"] == "scoped_versioned" and r["batch_rows"] == n_m),
            None,
        )
        t = time.monotonic()
        mstats = merge_scoped_versioned_mor(spark, path, mbatch, now=T2)
        dt = time.monotonic() - t
        results.append(
            {
                "mode": f"mor_{tag}",
                "batch_rows": n_m,
                "sec": round(dt, 3),
                "cow_control_bytes": (
                    cow_control["bytes_rewritten"] if cow_control else None
                ),
                "cow_control_sec": (
                    cow_control["sec"] if cow_control else None
                ),
                **mstats,
            }
        )
        print(json.dumps(results[-1]))
    # read premium while deltas stand, then compaction retires it
    t = time.monotonic()
    mor_read_rows = read_bucket_table_versioned(spark, path).count()
    mor_read_s = time.monotonic() - t
    t = time.monotonic()
    cstats = compact_versioned(spark, path)
    compact_s = time.monotonic() - t
    t = time.monotonic()
    flat_read_rows = read_bucket_table_versioned(spark, path).count()
    flat_read_s = time.monotonic() - t
    results.append(
        {
            "mode": "mor_read_and_compact",
            "read_with_deltas_sec": round(mor_read_s, 3),
            "read_after_compact_sec": round(flat_read_s, 3),
            "compact_sec": round(compact_s, 3),
            "rows": mor_read_rows,
            "rows_after": flat_read_rows,
            **cstats,
        }
    )
    print(json.dumps(results[-1]))

    # the whole-table baseline: full merge + whole-directory swap, once,
    # with the SMALLEST batch — cost should sit near the full-load
    # cost regardless of the batch being ~10 rows
    tiny = (
        orders.filter(F.col("o_orderkey") % 100_000 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    flat = f"{SCRATCH}/flat"
    write_atomic(base, flat)
    t = time.monotonic()
    merged = merge_upsert(
        spark.read.parquet(flat), tiny, key="o_orderkey", now=T1
    )
    write_atomic(merged, flat)
    full_dt = time.monotonic() - t
    flat_files = glob.glob(f"{flat}/*.parquet")
    results.append(
        {
            "mode": "write_atomic",
            "batch_rows": tiny.count(),
            "sec": round(full_dt, 3),
            "files_rewritten": len(flat_files),
            "bytes_rewritten": sum(os.path.getsize(f) for f in flat_files),
            "files_total": len(flat_files),
        }
    )
    print(json.dumps(results[-1]))

    out = {
        "sf_dir": SF_DIR,
        "multiplier": MULT,
        "target_rows": target_rows,
        "n_buckets": N_BUCKETS,
        "initial_load_sec": round(load_s, 3),
        "loadavg_1m": os.getloadavg()[0],
        "runs": results,
    }
    dst = artifact_path(
        "MERGEBENCH",
        {
            "MERGEBENCH.json": ("sf1", "b256", "x1"),
            "MERGEBENCH_4096.json": ("sf0.1", "b4096", "x10"),
        },
        (data_token(SF_DIR), f"b{N_BUCKETS}", f"x{MULT}"),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {dst.name}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
