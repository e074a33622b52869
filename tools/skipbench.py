#!/usr/bin/env python3
"""Data-skipping bench: footer-stats pruned scans on the versioned table.

The contract under measurement (round 9): manifests carry per-generation
column min/max harvested from parquet footers at commit time, so a
range scan whose predicate correlates with generations — the canonical
case is FRESHNESS, `updated_at >= last merge time` — opens only the
generations a recent merge rewrote. At 100 TB this is the difference
between an incremental consumer scanning the whole table per poll (the
reference's get_last_update_time shape re-reads everything newer by
rescanning, mongodb_handler.py:261-289) and reading batch-sized bytes.

Measured per run:
  * full-scan baseline: read the whole snapshot + filter (what a
    consumer without stats pays)
  * stats-pruned freshness scan: scan_versioned('updated_at', >= t1)
    — same answer, generations skipped counted from the prune plan
  * version-checkpoint consumption (read_changed_between) — the
    zero-clock alternative, for comparison
  * point lookups: present key vs stats-proven definite miss
  * ledger overhead: manifest bytes with stats vs buckets alone, and
    the harvest share of merge wall-clock

Usage: python3 tools/skipbench.py [sf_dir] [n_buckets] [xN]
Writes the committed record the inputs repeat (SKIPBENCH.json: sf0.1,
256 buckets, x10; SKIPBENCH_4096.json: 4096 buckets; SKIPBENCH_x100.json:
x100), else SKIPBENCH_<differing inputs>.json (tools/artifacts.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
N_BUCKETS = 256
MULT = 10
for a in sys.argv[1:]:
    if a.startswith("x") and a[1:].isdigit():
        MULT = int(a[1:])
    elif "/" in a:
        SF_DIR = a
    elif a.isdigit():
        N_BUCKETS = int(a)

SCRATCH = "/root/repo/.scratch/skipbench"
T0 = "2026-01-01 00:00:00"
T1 = "2026-01-02 00:00:00"


def main() -> None:
    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned,
        prune_generations,
        read_bucket_for_key_versioned,
        read_bucket_table_versioned,
        read_changed_between,
        scan_versioned,
        write_bucket_table_versioned,
    )
    from cvemate_spark.session import get_spark

    spark: SparkSession = get_spark()
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    if MULT > 1:
        rep = spark.range(MULT).withColumnRenamed("id", "rep")
        orders = orders.crossJoin(F.broadcast(rep)).select(
            (F.col("o_orderkey") * MULT + F.col("rep")).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    n_rows = orders.count()

    shutil.rmtree(SCRATCH, ignore_errors=True)
    path = f"{SCRATCH}/vt"
    t = time.time()
    write_bucket_table_versioned(
        merge_upsert(None, orders, key="o_orderkey", now=T0),
        path, key="o_orderkey", n_buckets=N_BUCKETS,
    )
    load_s = time.time() - t

    # a 20-key batch lands at T1
    keys = [r[0] for r in orders.select("o_orderkey").limit(20).collect()]
    batch = orders.filter(F.col("o_orderkey").isin(keys)).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(9.0)
    )
    t = time.time()
    mstats = merge_scoped_versioned(spark, path, batch, now=T1)
    merge_s = time.time() - t

    # harvest share: re-harvest the touched generations, timed alone
    from cvemate_spark.operators.merge_versioned import (
        _harvest_stats, _load_manifest_full,
    )

    full = _load_manifest_full(path, mstats["version"])
    prev = _load_manifest_full(path, 1)["buckets"]
    touched = [
        i for i, g in full["buckets"].items() if prev.get(i) != g
    ]
    t = time.time()
    for i in touched:
        _harvest_stats(path, i, full["buckets"][i])
    harvest_s = time.time() - t

    # ledger overhead: manifest bytes with and without the stats block.
    # The payload lives in _manifest/ shard files — count root + the
    # shards the version references.
    m_with = os.path.getsize(f"{path}/v-{mstats['version']}.json")
    from cvemate_spark.operators.merge_versioned import _load_root

    root = _load_root(path, mstats["version"])
    m_with += sum(
        os.path.getsize(f"{path}/_manifest/{e['f']}")
        for e in root["shards"].values()
    )
    slim = {
        k: v for k, v in full.items() if k not in ("stats", "_root")
    }
    m_without = len(json.dumps(slim))

    def timed(fn, runs=3):
        best = None
        for _ in range(runs):
            t = time.time()
            out = fn()
            dt = time.time() - t
            best = dt if best is None else min(best, dt)
        return best, out

    # full-scan baseline: whole snapshot + filter
    full_s, full_n = timed(
        lambda: read_bucket_table_versioned(spark, path)
        .filter(F.col("updated_at") >= F.lit(T1))
        .count()
    )
    # stats-pruned freshness scan
    plan = prune_generations(path, "updated_at", T1, None)
    skip_s, skip_n = timed(
        lambda: scan_versioned(spark, path, "updated_at", T1, None).count()
    )
    assert skip_n == full_n == 20, (skip_n, full_n)
    # version-checkpoint consumption (bucket-granular superset)
    ckpt_s, ckpt_df = timed(lambda: read_changed_between(spark, path, 1))
    ckpt_rows = ckpt_df.count()

    # point lookups: present vs stats-proven miss
    hit_s, _ = timed(
        lambda: read_bucket_for_key_versioned(spark, path, keys[0]).count()
    )
    miss_s, miss = timed(
        lambda: read_bucket_for_key_versioned(spark, path, -1)
    )
    assert miss is None  # keys are non-negative: bounds prove the miss

    # ---- round 10: VALUE-predicate skipping via clustering --------
    # the hash-layout honesty row first: a price band prunes ~nothing
    # at bucket grain (every bucket spans the whole price range), then
    # optimize_versioned sorts each bucket by price and rolls files so
    # per-FILE min/max become selective — the Delta OPTIMIZE ZORDER
    # economics, measured as pre/post pruning + wall on the same band
    from cvemate_spark.operators.merge_versioned import (
        optimize_versioned, prune_files,
    )

    band_lo, band_hi = 50000.0, 60000.0
    band_pred = [("o_totalprice", band_lo, band_hi)]
    pre_plan = prune_files(path, band_pred)
    # the timed scan forces DATA-PAGE reads (sum of the band column +
    # count together; bare count() answers from parquet metadata)
    def band_scan():
        r = (
            scan_versioned(spark, path, "o_totalprice", band_lo, band_hi)
            .agg(
                F.count("*").alias("n"),
                F.sum("o_totalprice").alias("s"),
            )
            .collect()[0]
        )
        return (r["n"], float(r["s"]))

    pre_s, (pre_n, pre_sum) = timed(band_scan)
    t = time.time()
    ostats = optimize_versioned(
        spark, path, cluster_by=["o_totalprice"], files_per_bucket=16
    )
    optimize_s = time.time() - t
    post_plan = prune_files(path, band_pred)
    post_s, (post_n, post_sum) = timed(band_scan)
    # content neutrality + band exactness across the optimize
    assert post_n == pre_n, (pre_n, post_n)
    assert abs(post_sum - pre_sum) < 1e-6 * max(abs(pre_sum), 1.0)
    assert read_bucket_table_versioned(spark, path).count() == n_rows
    files_ratio = (
        round(post_plan["files_total"] / max(post_plan["files_read"], 1), 1)
        if post_plan["files_total"]
        else None
    )
    # BYTES read under each plan — the scale-invariant signal (local
    # wall-clock on 15 KB files is task-overhead-bound; at production
    # file sizes the bytes ratio IS the wall ratio)
    post_stats = post_plan["manifest"].get("stats") or {}
    total_bytes = sum(s["bytes"] for s in post_stats.values())
    pre_stats = pre_plan["manifest"].get("stats") or {}
    pre_bytes = sum(
        pre_stats[p.split("/")[-2].split("=")[1]]["bytes"]
        for p in pre_plan["read"]
        if not p.endswith(".parquet")
    )
    post_bytes = 0
    for p in post_plan["read"]:
        parts = p.split("/")
        if p.endswith(".parquet"):
            bid = parts[-3].split("=")[1]
            post_bytes += post_stats[bid]["fs"][parts[-1]]["bytes"]
        else:
            bid = parts[-2].split("=")[1]
            post_bytes += post_stats[bid]["bytes"]

    out = {
        "sf_dir": SF_DIR,
        "mult": MULT,
        "rows": n_rows,
        "n_buckets": N_BUCKETS,
        "initial_load_s": round(load_s, 2),
        "merge": {
            "batch_keys": len(keys),
            "wall_s": round(merge_s, 2),
            "harvest_s": round(harvest_s, 3),
            "buckets_touched": mstats["buckets_touched"],
            "bytes_rewritten": mstats["bytes_rewritten"],
        },
        "manifest_bytes": {"with_stats": m_with, "without_stats": m_without},
        "freshness_scan": {
            "full_scan_s": round(full_s, 2),
            "stats_pruned_s": round(skip_s, 2),
            "speedup": round(full_s / skip_s, 1),
            "gens_read": len(plan["read"]),
            "gens_skipped": len(plan["skipped"]),
            "rows_out": skip_n,
        },
        "version_checkpoint_read_s": round(ckpt_s, 2),
        "version_checkpoint_rows": ckpt_rows,
        "point_lookup": {
            "hit_s": round(hit_s, 3),
            "stats_proven_miss_s": round(miss_s, 4),
        },
        "value_band_clustering": {
            "band": [band_lo, band_hi],
            "rows_out": post_n,
            "pre_optimize": {
                "scan_s": round(pre_s, 2),
                "dirs_read": len(pre_plan["read"]),
                "buckets_skipped": len(pre_plan["skipped"]),
                "bytes_read": pre_bytes,
            },
            "optimize": {
                "wall_s": round(optimize_s, 2),
                "files_written": ostats["files_written"],
                "rows_per_file": ostats["rows_per_file"],
            },
            "post_optimize": {
                "scan_s": round(post_s, 2),
                "files_read": post_plan["files_read"],
                "files_total": post_plan["files_total"],
                "files_prune_ratio": files_ratio,
                "bytes_read": post_bytes,
                "bytes_total": total_bytes,
                "bytes_prune_ratio": (
                    round(total_bytes / max(post_bytes, 1), 1)
                ),
                "scan_speedup": round(pre_s / post_s, 1) if post_s else None,
            },
        },
        "loadavg_1m": os.getloadavg()[0],
    }
    dst = artifact_path(
        "SKIPBENCH",
        {
            "SKIPBENCH.json": ("sf0.1", "b256", "x10"),
            "SKIPBENCH_4096.json": ("sf0.1", "b4096", "x10"),
            "SKIPBENCH_x100.json": ("sf0.1", "b256", "x100"),
        },
        (data_token(SF_DIR), f"b{N_BUCKETS}", f"x{MULT}"),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
