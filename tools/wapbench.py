#!/usr/bin/env python3
"""Write-audit-publish economics (round 13): what the staging layer
costs relative to committing straight into main, and how its fixed
terms scale with catalog width and staged volume.

  * staging_overhead: K batches merged into a main-registered table
    directly (catalog_txn per batch) vs the same K batches staged on
    a branch (branch_txn per batch) + audit count + publish. The WAP
    route pays the same table-level merges plus manifest arithmetic;
    the ratio should be ~1.0 — the isolation is (nearly) free.
  * publish_flatness: publish wall after staging 1 / 2 / 4 / 8
    batches — publish is manifest merge + pointer replace, so the
    wall must be flat in staged volume (fast-forward path) while the
    staged bytes grow linearly.
  * width_scaling: fork + publish wall for catalogs of 10 / 100 /
    1000 registered tables (names pinned by reference to one physical
    table — the manifest width is what's being measured, O(tables)
    JSON, no data movement).

Usage: python3 tools/wapbench.py [sf_dir]    -> WAPBENCH.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ROOT = f"{REPO}/.scratch/wapbench"
N_BUCKETS = 32


def main() -> None:
    from pyspark.sql import functions as F

    from cvemate_spark.operators.catalog import (
        branch_txn,
        catalog_branch,
        catalog_init,
        catalog_txn,
        publish_branch,
        read_branch,
    )
    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned,
        write_bucket_table_versioned,
    )
    from cvemate_spark.session import get_spark
    from cvemate_spark.tables import load_table

    spark = get_spark()
    if os.path.isdir(ROOT):
        shutil.rmtree(ROOT)
    os.makedirs(ROOT)

    orders = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .cache()
    )
    orders.count()
    now = "2026-01-01 00:00:00"

    def mk_table(p):
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=now),
            p, key="o_orderkey", n_buckets=N_BUCKETS,
        )

    def batches(k):
        # k disjoint re-price batches (mod-k residue classes of %7==0)
        hot = orders.filter(F.col("o_orderkey") % 7 == 0)
        return [
            hot.filter((F.col("o_orderkey") / 7).cast("long") % k == i)
            .select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(float(i + 1)))
                .alias("o_totalprice"),
            )
            for i in range(k)
        ]

    out: dict = {"sf_dir": SF_DIR, "n_buckets": N_BUCKETS}

    # ---------------- staging_overhead (K=4 batches) ----------------
    K = 4
    tabd = f"{ROOT}/t_direct"
    catd = f"{ROOT}/c_direct"
    mk_table(tabd)
    catalog_init(catd)
    catalog_txn(spark, catd, {"t": tabd})
    bs = batches(K)
    t0 = time.time()
    for b in bs:
        catalog_txn(
            spark, catd, {"t": tabd},
            actions={"t": lambda sk, p, b=b: merge_scoped_versioned(
                sk, p, b, now=now
            )},
        )
    direct_s = time.time() - t0

    tabw = f"{ROOT}/t_wap"
    catw = f"{ROOT}/c_wap"
    mk_table(tabw)
    catalog_init(catw)
    catalog_txn(spark, catw, {"t": tabw})
    t0 = time.time()
    catalog_branch(catw, "stage")
    for b in bs:
        branch_txn(
            spark, catw, "stage",
            {"t": lambda sk, p, b=b: merge_scoped_versioned(
                sk, p, b, now=now
            )},
        )
    # the audit read a WAP pipeline pays before its publish
    n_audit = read_branch(spark, catw, "stage", "t").count()
    pub = publish_branch(spark, catw, "stage")
    wap_s = time.time() - t0
    assert pub["fast_forward"]
    out["staging_overhead"] = {
        "batches": K,
        "direct_s": round(direct_s, 3),
        "wap_s": round(wap_s, 3),
        "ratio": round(wap_s / direct_s, 3),
        "audit_rows": n_audit,
    }

    # ---------------- publish_flatness ------------------------------
    rows = []
    for k in (1, 2, 4, 8):
        tab = f"{ROOT}/t_flat{k}"
        cat = f"{ROOT}/c_flat{k}"
        mk_table(tab)
        catalog_init(cat)
        catalog_txn(spark, cat, {"t": tab})
        catalog_branch(cat, "stage")
        for b in batches(k):
            branch_txn(
                spark, cat, "stage",
                {"t": lambda sk, p, b=b: merge_scoped_versioned(
                    sk, p, b, now=now
                )},
            )
        t0 = time.time()
        pub = publish_branch(spark, cat, "stage")
        rows.append(
            {"staged_batches": k, "publish_s": round(time.time() - t0, 4)}
        )
        assert pub["fast_forward"]
    out["publish_flatness"] = rows

    # ---------------- width_scaling ---------------------------------
    tabx = f"{ROOT}/t_width"
    mk_table(tabx)
    rows = []
    for width in (10, 100, 1000):
        cat = f"{ROOT}/c_w{width}"
        catalog_init(cat)
        # register `width` names pinned by reference to one physical
        # table: the manifest width is the measured quantity
        catalog_txn(
            spark, cat, {f"t{i:04d}": tabx for i in range(width)}
        )
        t0 = time.time()
        catalog_branch(cat, "stage")
        fork_s = time.time() - t0
        branch_txn(
            spark, cat, "stage",
            {"t0000": lambda sk, p: merge_scoped_versioned(
                sk, p, batches(1)[0], now=now
            )},
        )
        t0 = time.time()
        publish_branch(spark, cat, "stage")
        rows.append({
            "tables": width,
            "fork_s": round(fork_s, 4),
            "publish_s": round(time.time() - t0, 4),
        })
    out["width_scaling"] = rows

    out["loadavg_1m"] = os.getloadavg()[0]
    with open(f"{REPO}/WAPBENCH.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
