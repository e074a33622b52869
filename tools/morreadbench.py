#!/usr/bin/env python3
"""MOR read-side debt curve (VERDICT r10 item 4): fold cost vs delta
chain depth. A merge-on-read table trades write bytes for read-side
layering — this bench drives one table's chains from depth 0 to
`max_depth`, measuring at each depth:

  * full-snapshot read wall (the ordinal fold over base + d layers)
  * point-lookup wall (per-generation short-circuit + fold)
  * live bytes on disk (base + deltas)

then folds everything with `compact_versioned` and re-measures — the
read-debt payoff line. Every merge touches (almost) every bucket, so
depth is uniform and the curve is the worst case.

Usage: python3 tools/morreadbench.py [sf_dir] [max_depth] [n_buckets]
Writes MORREADBENCH.json when the inputs are the recorded run's (sf0.1,
depth 8, 256 buckets), else MORREADBENCH_<differing inputs>.json
(tools/artifacts.py).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MAX_DEPTH = 8
N_BUCKETS = 256
args = sys.argv[1:]
for a in args:
    if "/" in a:
        SF_DIR = a
ints = [int(a) for a in args if a.isdigit()]
if ints:
    MAX_DEPTH = ints[0]
if len(ints) > 1:
    N_BUCKETS = ints[1]

SCRATCH = f"{ROOT}/.scratch/morreadbench"
T0 = "2026-01-01 00:00:00"


def _table_bytes(path: str) -> int:
    """Bytes the LATEST manifest references (base + deltas) — not raw
    directory usage, which would count superseded generations that
    only vacuum retention is keeping alive."""
    from cvemate_spark.operators import merge_versioned as mv

    full = mv._load_manifest_full(path, mv.latest_version(path))
    dirs = [
        mv._gen_data_path(path, i, g)
        for i, g in full["buckets"].items()
    ] + [
        f"{path}/bucket={i}/{d['g']}"
        for i, lst in (full.get("deltas") or {}).items()
        for d in lst
    ]
    return sum(
        os.path.getsize(f) for g in dirs for f in glob.glob(f"{g}/*.parquet")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.session import get_spark

    spark = get_spark()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    path = f"{SCRATCH}/vt"
    mv.write_bucket_table_versioned(
        merge_upsert(None, orders, key="o_orderkey", now=T0),
        path, key="o_orderkey", n_buckets=N_BUCKETS,
    )
    probe_key = int(orders.agg(F.min("o_orderkey")).collect()[0][0])

    def measure(tag: str) -> dict:
        t = time.time()
        n = mv.read_bucket_table_versioned(spark, path).count()
        full_s = time.time() - t
        t = time.time()
        hit = mv.read_bucket_for_key_versioned(spark, path, probe_key)
        hit.collect()
        point_s = time.time() - t
        return {
            "tag": tag,
            "rows": n,
            "full_read_s": round(full_s, 2),
            "point_lookup_s": round(point_s, 3),
            "live_bytes": _table_bytes(path),
        }

    curve = [measure("depth_0")]
    # every merge touches ~every bucket: 1 key per bucket stripe
    stride = orders.count() // (N_BUCKETS * 2) or 1
    for d in range(1, MAX_DEPTH + 1):
        batch = orders.filter(
            (F.col("o_orderkey") % stride == d % stride)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(float(d))).alias("o_totalprice"),
            F.lit(f"D{d}").alias("o_orderstatus"),
        )
        r = mv.merge_scoped_versioned_mor(
            spark, path, batch, now=T0, max_depth=MAX_DEPTH + 2,
        )
        m = measure(f"depth_{d}")
        m["delta_buckets"] = r["delta_buckets"]
        m["bytes_written"] = r["bytes_written"]
        curve.append(m)

    t = time.time()
    comp = mv.compact_versioned(spark, path)
    compact_s = time.time() - t
    after = measure("after_compact")
    after["buckets_compacted"] = comp["buckets_compacted"]
    after["compact_s"] = round(compact_s, 2)

    out = {
        "sf_dir": SF_DIR,
        "n_buckets": N_BUCKETS,
        "max_depth": MAX_DEPTH,
        "curve": curve,
        "after_compact": after,
        "loadavg_1m": os.getloadavg()[0],
    }
    dst = artifact_path(
        "MORREADBENCH",
        {"MORREADBENCH.json": ("sf0.1", "d8", "b256")},
        (data_token(SF_DIR), f"d{MAX_DEPTH}", f"b{N_BUCKETS}"),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
