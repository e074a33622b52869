#!/usr/bin/env python3
"""Small-commit local-writer and change-feed crossover: write_crossover.py [reps] [log2 sizes...].

For each size 2^k bytes (default 16 18 ... 28) writes a 16-bucket
versioned table whose generations hold about 2^k bytes of parquet (a
string key, a long, a nested struct and a 200-character text column),
then times one `merge_scoped_versioned` commit of a 64-row parquet
batch that updates four keys in every bucket, so the commit rewrites
the whole 2^k-byte slice. Min over `reps` passes, alternating the three
forms of the commit:

- local_commit_s: the whole commit on the driver (LOCAL_WRITE_BYTES
  unbounded): one toArrow() collect of the batch with its buckets, a
  pyarrow read of the slice, the Arrow upsert and one pyarrow file per
  bucket;
- local_s: the Spark merge and the local writer (LOCAL_WRITE_BYTES
  unbounded, the merge refused at `_slice_gate`): the touched-set distinct,
  one toArrow() collect of the merged slice, one pyarrow file per
  bucket;
- spark_s: the Spark merge and the Spark writer (LOCAL_WRITE_BYTES =
  0): the bucket repartition, its write stage and the partitioned file
  commit.

Then one more commit, and the change feed over it (`change_feed` from
the version before to the commit's, plus the consumer's
`groupBy("change").count().collect()`), whose two slices hold about
2 x 2^k bytes (`feed_bytes`), timed the same way in two forms:

- local_feed_s: both slices read with pyarrow and diffed on the driver
  (`_slice_gate("feed")` admits it, the bound unbounded);
- spark_feed_s: the Spark full-outer diff (the bound at 0).

Each row also records `arrow_bytes`, the in-memory size of the slice
the local writer collects (about 1.1x the parquet bytes for this
table), and `fits_driver`: whether a slice of that many parquet bytes
stays within an eighth of the driver's memory once collected at
ARROW_EXPANSION times its size. The benchmark's CVE table collects
709 KB of parquet as 2.5 MB of Arrow (3.5x), and the collect holds the
Arrow batches in the JVM while the driver process holds the table and
its bucket-sorted copy. The session runs with the 2 GB driver the
benchmark uses. `merge_versioned.LOCAL_WRITE_BYTES` is the largest 2^k
at which local_s < spark_s and the slice fits the driver; the driver
commit shares that bound. The driver-side feed is gated on the same
bound when it wins at every size whose `feed_bytes` stay within it,
else on LOCAL_READ_BYTES (`feed_bound`). Writes WRITECROSSOVER.json
with the recording context (cpus, git rev, steal %, driver memory) and
prints one JSON line per size.
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

from pyspark.sql import Window, functions as F  # noqa: E402

from cvemate_spark.operators import merge_versioned as mv  # noqa: E402
from cvemate_spark.operators.merge import bucket_expr  # noqa: E402
from cvemate_spark.session import get_spark  # noqa: E402

ROW_BYTES = 230  # parquet bytes per row of the table below, measured
N_BUCKETS = 16
PER_BUCKET = 4  # batch rows per bucket
DRIVER_MEMORY = "2g"
DRIVER_BYTES = 2 << 30
ARROW_EXPANSION = 4  # Arrow bytes per parquet byte a slice is sized at


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def _rows(spark, n: int, salt: str):
    return spark.range(n).select(
        F.format_string("CVE-%09d", F.col("id")).alias("id"),
        F.col("id").alias("n"),
        F.struct(
            F.col("id").cast("string").alias("src"),
            (F.col("id") % 97).cast("double").alias("score"),
        ).alias("meta"),
        F.substring(
            F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"{salt}{j}")), 256)
                       for j in range(4)]),
            1, 200,
        ).alias("text"),
    )


def _timed_commit(spark, path: str, batch, bound: int, merge_local: bool = True) -> float:
    saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, bound
    gate = mv._slice_gate
    if not merge_local:
        # the gate refuses the driver-side merge, so the Spark merge runs
        # and the local writer still writes its output
        mv._slice_gate = lambda purpose, **kw: (
            mv._Gate("custom-merge") if purpose == "merge" else gate(purpose, **kw)
        )
    try:
        t0 = time.perf_counter()
        r = mv.merge_scoped_versioned(spark, path, batch)
        dt = time.perf_counter() - t0
    finally:
        mv.LOCAL_WRITE_BYTES = saved
        mv._slice_gate = gate
    assert r["buckets_touched"] == N_BUCKETS, r
    # drop the displaced generations so the disk holds one slice
    mv.vacuum_bucket_versions(path, keep=1)
    return dt


def _timed_feed(spark, path: str, v: int, bound: int) -> float:
    saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, bound
    try:
        t0 = time.perf_counter()
        rows = mv.change_feed(spark, path, v - 1, v).groupBy("change").count().collect()
        dt = time.perf_counter() - t0
    finally:
        mv.LOCAL_WRITE_BYTES = saved
    assert {r["change"]: r["count"] for r in rows} == {"update": N_BUCKETS * PER_BUCKET}, rows
    return dt


def measure(spark, root: str, log2: int, reps: int) -> dict:
    n = max((1 << log2) // ROW_BYTES, N_BUCKETS * PER_BUCKET * 4)
    path = os.path.join(root, f"t{log2}")
    saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, 0
    try:
        mv.write_bucket_table_versioned(
            _rows(spark, n, "a"), path, key="id", n_buckets=N_BUCKETS
        )
    finally:
        mv.LOCAL_WRITE_BYTES = saved
    full = mv._load_manifest_full(path, 1)
    nbytes = mv._slice_bytes(full, range(N_BUCKETS))
    feed = os.path.join(root, f"batch{log2}")
    w = Window.partitionBy(bucket_expr("id", N_BUCKETS)).orderBy("n")
    _rows(spark, n, "b").withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PER_BUCKET
    ).drop("rn").write.parquet(feed)
    batch = spark.read.parquet(feed)
    arrow_bytes = mv.read_bucket_table_versioned(spark, path).toArrow().nbytes
    inf = 1 << 62
    _timed_commit(spark, path, batch, inf)  # warm every form
    _timed_commit(spark, path, batch, inf, merge_local=False)
    _timed_commit(spark, path, batch, 0)
    commit, local, remote = [], [], []
    for _ in range(reps):
        commit.append(_timed_commit(spark, path, batch, inf))
        local.append(_timed_commit(spark, path, batch, inf, merge_local=False))
        remote.append(_timed_commit(spark, path, batch, 0))
    # a commit kept with its parent: the feed spans the two
    v = mv.merge_scoped_versioned(spark, path, batch)["version"]
    feed_bytes = sum(
        mv._slice_bytes(mv._load_manifest_full(path, u), range(N_BUCKETS))
        for u in (v - 1, v)
    )
    _timed_feed(spark, path, v, inf)  # warm both forms
    _timed_feed(spark, path, v, 0)
    lfeed, sfeed = [], []
    for _ in range(reps):
        lfeed.append(_timed_feed(spark, path, v, inf))
        sfeed.append(_timed_feed(spark, path, v, 0))
    shutil.rmtree(path)
    shutil.rmtree(feed)
    return {
        "log2": log2, "rows": n, "bytes": nbytes, "arrow_bytes": arrow_bytes,
        "fits_driver": (1 << log2) * ARROW_EXPANSION <= DRIVER_BYTES // 8,
        "local_commit_s": round(min(commit), 4),
        "local_s": round(min(local), 4), "spark_s": round(min(remote), 4),
        "feed_bytes": feed_bytes,
        "local_feed_s": round(min(lfeed), 4), "spark_feed_s": round(min(sfeed), 4),
    }


def feed_bound(rows: list[dict], local_write_bytes: int) -> str:
    """The bound the driver-side feed is gated on: LOCAL_WRITE_BYTES
    when the local feed won at every measured feed within it, else
    LOCAL_READ_BYTES."""
    if all(
        r["local_feed_s"] < r["spark_feed_s"]
        for r in rows if r["feed_bytes"] <= local_write_bytes
    ):
        return "LOCAL_WRITE_BYTES"
    return "LOCAL_READ_BYTES"


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sizes = [int(x) for x in sys.argv[2:]] or list(range(16, 29, 2))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark(
        "write-crossover", cpus=cpus,
        extra_conf={"spark.driver.memory": DRIVER_MEMORY,
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rev = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty"],
        capture_output=True, text=True,
    ).stdout.strip()
    root = tempfile.mkdtemp(prefix="write-crossover-")
    s0, t0 = _steal_ticks()
    rows = []
    try:
        for k in sizes:
            rows.append(measure(spark, root, k, reps))
            print(json.dumps(rows[-1]), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    s1, t1 = _steal_ticks()
    wins = [
        1 << r["log2"] for r in rows
        if r["local_s"] < r["spark_s"] and r["fits_driver"]
    ]
    art = {
        "cpus": int(cpus),
        "git_rev": rev,
        "reps": reps,
        "driver_memory": DRIVER_MEMORY,
        "arrow_expansion": ARROW_EXPANSION,
        "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
        "local_write_bytes": max(wins) if wins else 0,
        "feed_bound": feed_bound(rows, max(wins) if wins else 0),
        "rows": rows,
    }
    with open(os.path.join(REPO, "WRITECROSSOVER.json"), "w") as f:
        json.dump(art, f, indent=1)
    print(f"largest size where the local writer wins: {art['local_write_bytes']} B")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
