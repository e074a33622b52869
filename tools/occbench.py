#!/usr/bin/env python3
"""OCC contention economics (VERDICT r10 item 4): N concurrent
writers against one versioned table — wall clock, retries, rebases,
ordinal-composes, and orphan bytes, for:

  * cow_disjoint: CoW OCC writers over bucket-disjoint key sets
    (the nightly-feeds shape — work phases overlap, rebases free)
  * cow_overlap:  CoW OCC writers all hitting the SAME buckets
    (worst case — every loser pays retry x work-phase)
  * cow_partial:  CoW OCC writers with mostly-PRIVATE buckets plus
    one shared hot bucket (the realistic nightly-feeds-with-a-hot-key
    shape — round-12 retry reuse: a loser carries its unconflicted
    buckets' generations and recomputes only the hot one)
  * mor_overlap:  MOR OCC writers on the same buckets, key-disjoint
    (round-11 ordinal compose: same contention, ZERO retries)

(the committed OCCBENCH.json also holds the cow_partial_noreuse and
cow_overlap_noadm controls, run while retry reuse and admission could
still be switched off)

plus a serial baseline per scenario (the same batches, one after
another, through the locked path). Orphan bytes = generation dirs no
manifest references when the dust settles — the disk cost of lost
races, reclaimed by vacuum.

Usage: python3 tools/occbench.py [sf_dir] [writers_csv] [xN] [bN]
  xN (e.g. x10) multiplies the orders corpus; bN (e.g. b4096) sets
  the bucket count. Writes the committed record the inputs repeat
  (OCCBENCH.json: sf0.1, 2,4,8 writers, x1, 256 buckets;
  OCCBENCH_4096.json: 4 writers, x10, 4096 buckets), else
  OCCBENCH_<differing inputs>.json (tools/artifacts.py).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
WRITERS = [2, 4, 8]
N_BUCKETS = 256
MULTIPLIER = 1
for a in sys.argv[1:]:
    if "/" in a:
        SF_DIR = a
    elif a.startswith("x") and a[1:].isdigit():
        MULTIPLIER = int(a[1:])
    elif a.startswith("b") and a[1:].isdigit():
        N_BUCKETS = int(a[1:])
    elif "," in a or a.isdigit():
        WRITERS = [int(x) for x in a.split(",")]

SCRATCH = f"{REPO}/.scratch/occbench"
ROWS_PER_WRITER = 200
T0 = "2026-01-01 00:00:00"


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dirs, fs in os.walk(d)
        for f in fs
    )


def _orphan_bytes(path: str) -> int:
    from cvemate_spark.operators import merge_versioned as mv

    referenced = set()
    for v in mv._list_versions(path):
        full = mv._load_manifest_full(path, v)
        for i, g in full["buckets"].items():
            referenced.add(mv._gen_data_path(path, i, g))
        for i, lst in (full.get("deltas") or {}).items():
            for d in lst:
                referenced.add(f"{path}/bucket={i}/{d['g']}")
    return sum(
        _dir_bytes(g)
        for g in glob.glob(f"{path}/bucket=*/g-*")
        if g not in referenced
    )


def main() -> None:
    from pyspark.sql import functions as F

    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge import bucket_expr, merge_upsert
    from cvemate_spark.session import get_spark

    spark = get_spark()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    if MULTIPLIER > 1:
        # the mergebench xN corpus derivation: disjoint key stripes
        orders = (
            spark.range(MULTIPLIER)
            .crossJoin(orders)
            .select(
                (F.col("o_orderkey") * MULTIPLIER + F.col("id"))
                .alias("o_orderkey"),
                "o_totalprice", "o_orderstatus",
            )
        )
    base = merge_upsert(None, orders, key="o_orderkey", now=T0)

    # key pools, BOUNDED driver state: disjoint scenarios split by
    # bucket parity (per-writer limited collect), overlap scenarios
    # all draw keys from ONE bucket's pool (count agg + one limited
    # collect — never the whole key column)
    b = bucket_expr("o_orderkey", N_BUCKETS)
    keyed = orders.select(F.col("o_orderkey").alias("k"), b.alias("bkt"))
    counts = keyed.groupBy("bkt").count().collect()  # <= n_buckets rows
    hot = max(counts, key=lambda r: r["count"])["bkt"]
    max_writers = max(WRITERS)
    hot_pool = [
        r["k"]
        for r in keyed.filter(F.col("bkt") == int(hot))
        .limit(ROWS_PER_WRITER * max_writers)
        .collect()
    ]
    by_bucket = {int(hot): hot_pool}
    disjoint_pool: dict[tuple[int, int], list[int]] = {}
    for n in WRITERS:
        for i in range(n):
            disjoint_pool[(n, i)] = [
                r["k"]
                for r in keyed.filter(F.col("bkt") % n == i)
                .limit(ROWS_PER_WRITER)
                .collect()
            ]

    def batch_df(keys, tag):
        return spark.createDataFrame(
            [(int(k), 1.0, tag) for k in keys],
            "o_orderkey long, o_totalprice double, o_orderstatus string",
        )

    def writer_batches(n, mode):
        """n key-disjoint batches: disjoint -> writer i owns buckets
        with bucket%n==i; overlap -> all writers draw from the single
        hottest bucket (bucket-overlapping, key-disjoint)."""
        out = []
        if mode == "disjoint":
            for i in range(n):
                out.append(
                    batch_df(disjoint_pool[(n, i)], f"W{i}")
                )
        elif mode == "partial":
            pool = by_bucket[int(hot)]
            ph = max(1, min(ROWS_PER_WRITER // 10, len(pool) // n))
            for i in range(n):
                keys = (
                    disjoint_pool[(n, i)][: ROWS_PER_WRITER - ph]
                    + pool[i * ph:(i + 1) * ph]
                )
                out.append(batch_df(keys, f"W{i}"))
        else:
            pool = by_bucket[int(hot)]
            per = max(1, min(ROWS_PER_WRITER, len(pool) // n))
            for i in range(n):
                out.append(batch_df(pool[i * per:(i + 1) * per], f"W{i}"))
        return out

    # untimed warmup: the first timed scenario otherwise runs its
    # CONCURRENT phase on a cold JVM while its serial baseline runs
    # warm — a one-sided bias that read cow_disjoint_2w ~0.7x on an
    # otherwise >=1.4x shape. One full OCC merge + one locked merge +
    # one MOR merge through a throwaway table covers codegen, shuffle
    # and the manifest I/O paths before anything is measured.
    warm_path = f"{SCRATCH}/_warmup"
    shutil.rmtree(warm_path, ignore_errors=True)
    mv.write_bucket_table_versioned(
        base, warm_path, key="o_orderkey", n_buckets=N_BUCKETS
    )
    warm_df = batch_df(disjoint_pool[(WRITERS[0], 0)], "WARM")
    mv.merge_scoped_versioned_occ(spark, warm_path, warm_df, now=T0)
    mv.merge_scoped_versioned(spark, warm_path, warm_df, now=T0)
    mv.merge_scoped_versioned_mor(spark, warm_path, warm_df, now=T0)
    shutil.rmtree(warm_path, ignore_errors=True)

    results: dict[str, dict] = {}
    for n in WRITERS:
        for scen, mode, merge_kind in (
            (f"cow_disjoint_{n}w", "disjoint", "cow"),
            (f"cow_overlap_{n}w", "overlap", "cow"),
            (f"cow_partial_{n}w", "partial", "cow"),
            (f"mor_overlap_{n}w", "overlap", "mor"),
        ):
            path = f"{SCRATCH}/{scen}"
            shutil.rmtree(path, ignore_errors=True)
            mv.write_bucket_table_versioned(
                base, path, key="o_orderkey", n_buckets=N_BUCKETS
            )
            batches = writer_batches(n, mode)

            def run_one(df, acc):
                if merge_kind == "cow":
                    acc.append(mv.merge_scoped_versioned_occ(
                        spark, path, df, now=T0, max_retries=2 * n,
                    ))
                else:
                    acc.append(mv.merge_scoped_versioned_mor(
                        spark, path, df, now=T0, occ=True,
                        max_retries=2 * n,
                    ))

            accs: list[dict] = []
            threads = [
                threading.Thread(target=run_one, args=(df, accs))
                for df in batches
            ]
            t = time.time()
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            wall = time.time() - t
            orphans = _orphan_bytes(path)

            # serial baseline: same batches through the locked path
            path_s = f"{SCRATCH}/{scen}_serial"
            shutil.rmtree(path_s, ignore_errors=True)
            mv.write_bucket_table_versioned(
                base, path_s, key="o_orderkey", n_buckets=N_BUCKETS
            )
            t = time.time()
            for df in batches:
                if merge_kind == "cow":
                    mv.merge_scoped_versioned(spark, path_s, df, now=T0)
                else:
                    mv.merge_scoped_versioned_mor(spark, path_s, df, now=T0)
            serial_wall = time.time() - t

            results[scen] = {
                "writers": n,
                "wall_s": round(wall, 2),
                "serial_wall_s": round(serial_wall, 2),
                "speedup": round(serial_wall / wall, 2),
                "attempts": sum(a["attempts"] for a in accs),
                "rebased": sum(1 for a in accs if a["rebased"]),
                "composed_buckets": sum(
                    len(a.get("composed") or []) for a in accs
                ),
                "buckets_reused": sum(
                    a.get("buckets_reused") or 0 for a in accs
                ),
                "orphan_bytes": orphans,
            }
            print(json.dumps({scen: results[scen]}))
            shutil.rmtree(path, ignore_errors=True)
            shutil.rmtree(path_s, ignore_errors=True)

    out = {
        "sf_dir": SF_DIR,
        "multiplier": MULTIPLIER,
        "n_buckets": N_BUCKETS,
        "rows_per_writer": ROWS_PER_WRITER,
        "scenarios": results,
        "loadavg_1m": os.getloadavg()[0],
    }
    dst = artifact_path(
        "OCCBENCH",
        {
            "OCCBENCH.json": ("sf0.1", "w2,4,8", "x1", "b256"),
            "OCCBENCH_4096.json": ("sf0.1", "w4", "x10", "b4096"),
        },
        (
            data_token(SF_DIR), "w" + ",".join(map(str, WRITERS)),
            f"x{MULTIPLIER}", f"b{N_BUCKETS}",
        ),
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
