#!/usr/bin/env python3
"""Long-history manifest economics (VERDICT r9 item 4).

Every versioned commit writes one manifest root plus the shards its
touched buckets live in, and the commit path does O(V) directory arithmetic
(_list_versions for the next number + the phantom sweep + supersession
markers). This bench drives a table through ~N_COMMITS small merges
and measures whether anything grows with history:

  * per-commit wall, first-K vs last-K window means (flat == healthy)
  * latest_version -> scan plan time at V commits (should be O(1):
    one pointer read + one manifest load)
  * history() wall (documented O(V) — one manifest load per version)
  * version_at() wall (documented O(V))
  * change_feed from the midpoint checkpoint (cost ∝ changed buckets,
    not V)
  * vacuum keep=2 wall + bytes reclaimed (the ledger-compaction story:
    manifests ARE the history, so retention == compaction)
  * manifest count/bytes before and after vacuum

Usage: python3 tools/manifestbench.py [sf_dir] [n_commits] [n_buckets]
Writes the committed record whose inputs the run repeats —
MANIFESTBENCH.json (sf0.01, 600 commits, 64 buckets),
MANIFESTBENCH_4096.json (sf0.1, 300, 4096) or MANIFESTBENCH_16384.json
(sf0.1, 100, 16384) — else MANIFESTBENCH_<differing inputs>.json
(tools/artifacts.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
N_COMMITS = 600
N_BUCKETS = 64
args = [a for a in sys.argv[1:]]
for a in args:
    if "/" in a:
        SF_DIR = a
int_args = [int(a) for a in args if a.isdigit()]
if int_args:
    N_COMMITS = int_args[0]
if len(int_args) > 1:
    N_BUCKETS = int_args[1]

SCRATCH = f"{ROOT}/.scratch/manifestbench"
T0 = "2026-01-01 00:00:00"


def main() -> None:
    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.operators.merge_versioned import (
        change_feed,
        history,
        latest_version,
        merge_scoped_versioned,
        read_bucket_table_versioned,
        vacuum_bucket_versions,
        version_at,
    )
    from cvemate_spark.session import get_spark

    spark = get_spark()
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    keys = [
        r[0]
        for r in orders.select("o_orderkey").limit(N_COMMITS).collect()
    ]
    # one driver-local row per commit: the bench measures COMMIT cost,
    # not batch compute, so the batch is as small as possible
    shutil.rmtree(SCRATCH, ignore_errors=True)
    path = f"{SCRATCH}/vt"
    _mv = __import__(
        "cvemate_spark.operators.merge_versioned",
        fromlist=["write_bucket_table_versioned"],
    )
    write_bucket_table_versioned_ = _mv.write_bucket_table_versioned
    read_bucket_for_key_versioned_ = _mv.read_bucket_for_key_versioned
    write_bucket_table_versioned_(
        merge_upsert(None, orders, key="o_orderkey", now=T0),
        path, key="o_orderkey", n_buckets=N_BUCKETS,
    )

    commit_walls: list[float] = []
    for i, k in enumerate(keys):
        batch = spark.createDataFrame(
            [(int(k), float(i), "B")],
            "o_orderkey long, o_totalprice double, o_orderstatus string",
        )
        t = time.time()
        merge_scoped_versioned(spark, path, batch, now=T0)
        commit_walls.append(time.time() - t)
    V = latest_version(path)
    assert V == 1 + N_COMMITS

    K = max(10, N_COMMITS // 12)
    first_k = sum(commit_walls[:K]) / K
    last_k = sum(commit_walls[-K:]) / K

    # plan time at V commits: pointer + ONE manifest (never O(V))
    t = time.time()
    df = read_bucket_table_versioned(spark, path)
    plan_s = time.time() - t
    t = time.time()
    n = df.count()
    read_s = time.time() - t

    t = time.time()
    h = history(path)
    history_s = time.time() - t
    assert len(h) == V

    t = time.time()
    version_at(path, time.time())
    version_at_s = time.time() - t

    mid = V // 2
    t = time.time()
    feed = change_feed(spark, path, mid)
    feed_rows = feed.count() if feed is not None else 0
    feed_s = time.time() - t

    def _manifest_bytes() -> tuple[int, int]:
        """(root bytes, shard bytes) — the bucket payload lives in
        content-addressed _manifest/ shard files; counting only
        v-*.json would under-report the storage."""
        roots = sum(
            os.path.getsize(f"{path}/{f}")
            for f in os.listdir(path)
            if f.startswith("v-") and f.endswith(".json")
        )
        mdir = f"{path}/_manifest"
        shards = (
            sum(
                os.path.getsize(f"{mdir}/{f}")
                for f in os.listdir(mdir)
            )
            if os.path.isdir(mdir)
            else 0
        )
        return roots, shards

    man_count = V
    root_bytes, shard_bytes = _manifest_bytes()
    man_bytes = root_bytes + shard_bytes
    # POINT-LOOKUP plan time: the O(touched)-in-width claim (root +
    # one shard)
    t = time.time()
    hit = read_bucket_for_key_versioned_(spark, path, int(keys[0]))
    point_plan_s = time.time() - t
    t = time.time()
    hit.collect()
    point_collect_s = time.time() - t
    t = time.time()
    vac = vacuum_bucket_versions(path, keep=2)
    vacuum_s = time.time() - t
    rb_after, sb_after = _manifest_bytes()
    man_bytes_after = rb_after + sb_after
    # the table still reads exactly after compaction
    assert read_bucket_table_versioned(spark, path).count() == n

    out = {
        "sf_dir": SF_DIR,
        "n_commits": N_COMMITS,
        "n_buckets": N_BUCKETS,
        "rows": n,
        "commit_wall_s": {
            "window": K,
            "first_window_mean": round(first_k, 3),
            "last_window_mean": round(last_k, 3),
            "growth_ratio": round(last_k / first_k, 2),
        },
        "at_full_history": {
            "plan_s": round(plan_s, 3),
            "read_s": round(read_s, 2),
            "history_s": round(history_s, 3),
            "version_at_s": round(version_at_s, 3),
            "change_feed_from_midpoint_s": round(feed_s, 2),
            "change_feed_rows": feed_rows,
        },
        "point_lookup": {
            "plan_s": round(point_plan_s, 3),
            "collect_s": round(point_collect_s, 3),
        },
        "manifests": {
            "count": man_count,
            "bytes": man_bytes,
            "root_bytes": root_bytes,
            "shard_bytes": shard_bytes,
            "bytes_per_manifest": man_bytes // max(man_count, 1),
        },
        "vacuum": {
            "wall_s": round(vacuum_s, 2),
            "versions_removed": len(vac["removed_versions"]),
            "gens_removed": len(vac["removed_gens"]),
            "manifest_bytes_after": man_bytes_after,
        },
        "loadavg_1m": os.getloadavg()[0],
    }
    dst = artifact_path(
        "MANIFESTBENCH",
        {
            "MANIFESTBENCH.json": ("sf0.01", "c600", "b64"),
            "MANIFESTBENCH_4096.json": ("sf0.1", "c300", "b4096"),
            "MANIFESTBENCH_16384.json": ("sf0.1", "c100", "b16384"),
        },
        (data_token(SF_DIR), f"c{N_COMMITS}", f"b{N_BUCKETS}"),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
