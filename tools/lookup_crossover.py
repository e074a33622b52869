#!/usr/bin/env python3
"""Point-lookup local-read crossover: lookup_crossover.py [reps] [log2 sizes...].

For each size 2^k bytes (default 12 14 ... 26) writes a one-bucket
versioned table whose single generation holds about 2^k bytes of
parquet (a string key, a long, a nested struct and a 200-character
text column), then times `read_bucket_for_key_versioned(...).collect()`
for a key in the middle of the table, min over `reps` warm passes,
alternating the two reads:

- local_s: the driver-local read (LOCAL_READ_BYTES unbounded): pyarrow
  read of the generation's files, local relation, no Spark job;
- spark_s: the Spark read (LOCAL_READ_BYTES = 0): one scan job.

`merge_versioned.LOCAL_READ_BYTES` is the largest 2^k at which
local_s < spark_s. Writes LOOKUPCROSSOVER.json with the recording
context (cpus, git rev, steal %) and prints one JSON line per size.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from cvemate_spark.operators import merge_versioned as mv  # noqa: E402
from cvemate_spark.session import get_spark  # noqa: E402

ROW_BYTES = 230  # parquet bytes per row of the table below, measured


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def _timed_lookup(spark, path: str, key: str, bound: int) -> float:
    saved, mv.LOCAL_READ_BYTES = mv.LOCAL_READ_BYTES, bound
    try:
        t0 = time.perf_counter()
        rows = mv.read_bucket_for_key_versioned(spark, path, key).collect()
        dt = time.perf_counter() - t0
    finally:
        mv.LOCAL_READ_BYTES = saved
    assert len(rows) == 1, (key, len(rows))
    return dt


def measure(spark, root: str, log2: int, reps: int) -> dict:
    n = max((1 << log2) // ROW_BYTES, 1)
    path = os.path.join(root, f"g{log2}")
    df = spark.range(n).select(
        F.format_string("CVE-%09d", F.col("id")).alias("id"),
        F.col("id").alias("n"),
        F.struct(
            F.col("id").cast("string").alias("src"),
            (F.col("id") % 97).cast("double").alias("score"),
        ).alias("meta"),
        F.substring(
            F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(j)), 256)
                       for j in range(4)]),
            1, 200,
        ).alias("text"),
    )
    mv.write_bucket_table_versioned(df, path, key="id", n_buckets=1)
    g = mv._load_manifest_full(path, 1)["buckets"]["0"]
    nbytes = sum(
        os.path.getsize(f) for f in mv._data_files(mv._gen_data_path(path, 0, g))
    )
    key = f"CVE-{n // 2:09d}"
    inf = 1 << 62
    _timed_lookup(spark, path, key, inf)  # warm both paths
    _timed_lookup(spark, path, key, 0)
    local, remote = [], []
    for _ in range(reps):
        local.append(_timed_lookup(spark, path, key, inf))
        remote.append(_timed_lookup(spark, path, key, 0))
    shutil.rmtree(path)
    return {
        "log2": log2, "rows": n, "bytes": nbytes,
        "local_s": round(min(local), 4), "spark_s": round(min(remote), 4),
    }


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sizes = [int(x) for x in sys.argv[2:]] or list(range(12, 27, 2))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark("lookup-crossover", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rev = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty"],
        capture_output=True, text=True,
    ).stdout.strip()
    root = tempfile.mkdtemp(prefix="lookup-crossover-")
    s0, t0 = _steal_ticks()
    rows = []
    try:
        for k in sizes:
            rows.append(measure(spark, root, k, reps))
            print(json.dumps(rows[-1]), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    s1, t1 = _steal_ticks()
    wins = [1 << r["log2"] for r in rows if r["local_s"] < r["spark_s"]]
    art = {
        "cpus": int(cpus),
        "git_rev": rev,
        "reps": reps,
        "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
        "local_read_bytes": max(wins) if wins else 0,
        "rows": rows,
    }
    with open(os.path.join(REPO, "LOOKUPCROSSOVER.json"), "w") as f:
        json.dump(art, f, indent=1)
    print(f"largest size where the local read wins: {art['local_read_bytes']} B")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
