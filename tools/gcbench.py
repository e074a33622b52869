#!/usr/bin/env python3
"""Vacuum/GC economics for the sharded + delta-root + MOR +
DV + OCC era (VERDICT r11 item 4): one long-lived table driven through
N_COMMITS mixed commits — CoW scoped merges, MOR delta appends, DV
deletes, periodic two-writer OCC races (orphan producers), periodic
compaction — with periodic vacuums, recording the storage curve:

  * total bytes on disk vs LIVE bytes (latest-manifest-referenced,
    incl. delta generations and DV dirs)
  * history bytes (referenced only by older retained versions),
    orphan bytes (referenced by nothing — lost races / superseded)
  * manifest-layer bytes (roots + shard files) and root chain shape
  * vacuum wall + bytes reclaimed at each vacuum
  * post-final-vacuum plan/read/point-lookup costs

Pass criterion: no storage term grows unboundedly — live bytes track
content, manifest bytes track retained history, and each vacuum
returns total/live to a stable band.

Usage: python3 tools/gcbench.py [sf_dir] [n_commits] [n_buckets]
Writes GCBENCH.json when the inputs are the recorded run's (sf0.1, 600
commits, 1024 buckets), else GCBENCH_<differing inputs>.json
(tools/artifacts.py).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
N_COMMITS = 600
N_BUCKETS = 1024
for a in sys.argv[1:]:
    if "/" in a:
        SF_DIR = a
ints = [int(a) for a in sys.argv[1:] if a.isdigit()]
if ints:
    N_COMMITS = ints[0]
if len(ints) > 1:
    N_BUCKETS = ints[1]

SCRATCH = f"{REPO}/.scratch/gcbench"
T0 = "2026-01-01 00:00:00"
VACUUM_EVERY = 150
COMPACT_EVERY = 75
OCC_EVERY = 60
SAMPLE_EVERY = 50
KEEP = 8


def _du(path: str) -> int:
    total = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


def _dir_bytes(d: str) -> int:
    if os.path.isfile(d):
        return os.path.getsize(d)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dirs, fs in os.walk(d)
        for f in fs
    )


def _storage_terms(path: str, mv) -> dict:
    """total / live / history / orphan data bytes + manifest-layer
    bytes, all from manifest arithmetic + one directory walk."""
    latest = mv.latest_version(path)
    live_refs: set[str] = set()
    all_refs: set[str] = set()
    for v in mv._list_versions(path):
        full = mv._load_manifest_full(path, v)
        refs = set()
        for i, g in full["buckets"].items():
            refs.add(mv._gen_data_path(path, i, g))
        for i, lst in (full.get("deltas") or {}).items():
            for d in lst:
                refs.add(f"{path}/bucket={i}/{d['g']}")
        for names in (full.get("dv") or {}).values():
            for e in names:
                refs.add(f"{path}/{mv._dv_ref(e)[0]}")
        all_refs |= refs
        if v == latest:
            live_refs = refs
    data_paths = (
        glob.glob(f"{path}/bucket=*/g-*")
        + glob.glob(f"{path}/dv-*")
    )
    live = hist = orphan = 0
    for p in data_paths:
        b = _dir_bytes(p)
        if p in live_refs:
            live += b
        elif p in all_refs:
            hist += b
        else:
            orphan += b
    mdir = os.path.join(path, mv.MANIFEST_DIR)
    root_bytes = sum(
        os.path.getsize(f) for f in glob.glob(f"{path}/v-*.json")
    )
    shard_bytes = _du(mdir) if os.path.isdir(mdir) else 0
    raw = mv._load_root_raw(path, latest)
    return {
        "versions": len(mv._list_versions(path)),
        "live_bytes": live,
        "history_bytes": hist,
        "orphan_bytes": orphan,
        "root_bytes": root_bytes,
        "shard_bytes": shard_bytes,
        "total_bytes": _du(path),
        "latest_root_is_delta": "root_base" in raw,
    }


def main() -> None:
    from pyspark.sql import functions as F

    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.session import get_spark

    spark = get_spark()
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    keys = [r[0] for r in orders.select("o_orderkey").limit(40000).collect()]
    rng = random.Random(42)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    path = f"{SCRATCH}/vt"
    mv.write_bucket_table_versioned(
        merge_upsert(None, orders, key="o_orderkey", now=T0),
        path, key="o_orderkey", n_buckets=N_BUCKETS,
    )

    def batch(n, tag):
        ks = rng.sample(keys, n)
        return spark.createDataFrame(
            [(int(k), float(len(tag)), tag) for k in ks],
            "o_orderkey long, o_totalprice double, o_orderstatus string",
        )

    samples = []
    vacuums = []
    commit_walls = []
    t_start = time.time()
    for i in range(1, N_COMMITS + 1):
        t = time.time()
        if i % OCC_EVERY == 0:
            # two racing OCC writers (a real thread race — the orphan
            # producer: the loser's conflicted-bucket generations)
            barrier = threading.Barrier(2)
            state = [True, True]

            def run(slot):
                def hook():
                    if state[slot]:
                        state[slot] = False
                        barrier.wait()
                mv.merge_scoped_versioned_occ(
                    spark, path, batch(20, f"O{slot}"),
                    now=T0, max_retries=4, pre_commit_hook=hook,
                )
            ts = [threading.Thread(target=run, args=(s,)) for s in (0, 1)]
            for th in ts:
                th.start()
            for th in ts:
                th.join()
        elif i % 7 in (0, 1, 2, 3):
            mv.merge_scoped_versioned(spark, path, batch(20, "C"), now=T0)
        elif i % 7 in (4, 5):
            mv.merge_scoped_versioned_mor(spark, path, batch(20, "M"), now=T0)
        else:
            dk = spark.createDataFrame(
                [(int(k),) for k in rng.sample(keys, 5)], "o_orderkey long"
            )
            mv.merge_deletes_dv(spark, path, dk)
        if i % COMPACT_EVERY == 0:
            mv.compact_versioned(spark, path)
        commit_walls.append(time.time() - t)
        if i % VACUUM_EVERY == 0:
            before = _du(path)
            t = time.time()
            out = mv.vacuum_bucket_versions(path, keep=KEEP)
            vacuums.append({
                "at_commit": i,
                "wall_s": round(time.time() - t, 2),
                "versions_removed": len(out["removed_versions"]),
                "items_removed": len(out["removed_gens"]),
                "bytes_reclaimed": before - _du(path),
            })
        if i % SAMPLE_EVERY == 0:
            s = _storage_terms(path, mv)
            s["commit"] = i
            samples.append(s)
            print(json.dumps(s))

    drive_wall = time.time() - t_start
    # final vacuum to the operating floor + post-vacuum costs
    t = time.time()
    mv.vacuum_bucket_versions(path, keep=2)
    final_vac_s = time.time() - t
    final = _storage_terms(path, mv)
    t = time.time()
    df = mv.read_bucket_table_versioned(spark, path)
    plan_s = time.time() - t
    t = time.time()
    n = df.count()
    read_s = time.time() - t
    t = time.time()
    mv.read_bucket_for_key_versioned(spark, path, int(keys[7])).collect()
    lookup_s = time.time() - t

    out = {
        "sf_dir": SF_DIR,
        "n_commits": N_COMMITS,
        "n_buckets": N_BUCKETS,
        "keep": KEEP,
        "drive_wall_s": round(drive_wall, 1),
        "commit_wall_mean_s": round(
            sum(commit_walls) / len(commit_walls), 3
        ),
        "samples": samples,
        "vacuums": vacuums,
        "final_vacuum_s": round(final_vac_s, 2),
        "final": final,
        "post_vacuum": {
            "plan_s": round(plan_s, 3),
            "read_s": round(read_s, 3),
            "rows": n,
            "point_lookup_s": round(lookup_s, 3),
        },
        "loadavg_1m": os.getloadavg()[0],
    }
    dst = artifact_path(
        "GCBENCH",
        {"GCBENCH.json": ("sf0.1", "c600", "b1024")},
        (data_token(SF_DIR), f"c{N_COMMITS}", f"b{N_BUCKETS}"),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "samples"}))


if __name__ == "__main__":
    main()
