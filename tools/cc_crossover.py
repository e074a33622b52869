#!/usr/bin/env python3
"""Local-finish crossover for dedup_components: cc_crossover.py [reps] [log2 sizes...].

For each size 2^k (default 16 18 20) builds a random graph with about
2^k arcs (2^(k-1) pairs over 2^(k-2) nodes, persisted before timing)
and times, min over `reps` passes:

- entry_s: the shared entry (arc distinct + checkpoint), timed as a
  run with LOCAL_FINISH_ARCS = 0 and max_iter = 0 (it raises);
- local_s: the local finish (Arrow collect + driver union-find + local
  relation), as a full run at an unbounded LOCAL_FINISH_ARCS minus
  entry_s;
- round_s: one large-star/small-star round, as a max_iter = 1 run
  (raises) at LOCAL_FINISH_ARCS = 0 minus entry_s;
- ls_ss_s: every round to the fixpoint, as a full run at
  LOCAL_FINISH_ARCS = 0 minus entry_s.

Writes CCCROSSOVER.json with the recording context (cpus, git rev,
steal %) and prints one JSON line per size.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from cvemate_spark.operators import dedup as D  # noqa: E402
from cvemate_spark.session import get_spark  # noqa: E402


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    try:
        fn()
    except RuntimeError as e:
        if "no fixpoint" not in str(e):
            raise
    return time.perf_counter() - t0


def _run(pairs, bound: int, max_iter: int = 24) -> None:
    saved = D.LOCAL_FINISH_ARCS
    D.LOCAL_FINISH_ARCS = bound
    try:
        # count() materializes the distributed finish's lazy output;
        # the local finish's relation is already built
        D.dedup_components(pairs, max_iter=max_iter).count()
    finally:
        D.LOCAL_FINISH_ARCS = saved


def measure(spark, log2: int, reps: int) -> dict:
    n_pairs, n_nodes = 1 << (log2 - 1), 1 << (log2 - 2)
    h = lambda c: F.abs(F.xxhash64(c)) % n_nodes  # noqa: E731
    pairs = (
        spark.range(n_pairs)
        .select(h(F.col("id")).alias("d1"), h(F.col("id") + n_pairs).alias("d2"))
        .persist()
    )
    pairs.count()
    arcs = (
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .unionByName(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .count()
    )
    inf = 1 << 62
    passes = {"entry": [], "local": [], "round": [], "ls_ss": []}
    for _ in range(reps):
        passes["entry"].append(_timed(lambda: _run(pairs, 0, max_iter=0)))
        passes["local"].append(_timed(lambda: _run(pairs, inf)))
        passes["round"].append(_timed(lambda: _run(pairs, 0, max_iter=1)))
        passes["ls_ss"].append(_timed(lambda: _run(pairs, 0)))
    pairs.unpersist()
    entry = min(passes["entry"])
    out = {"log2": log2, "arcs": arcs, "entry_s": round(entry, 3)}
    for k in ("local", "round", "ls_ss"):
        out[f"{k}_s"] = round(min(passes[k]) - entry, 3)
    return out


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sizes = [int(x) for x in sys.argv[2:]] or [16, 18, 20]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = get_spark("cc-crossover", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rev = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty"],
        capture_output=True, text=True,
    ).stdout.strip()
    s0, t0 = _steal_ticks()
    rows = []
    for k in sizes:
        rows.append(measure(spark, k, reps))
        print(json.dumps(rows[-1]), flush=True)
    s1, t1 = _steal_ticks()
    art = {
        "cpus": int(cpus),
        "git_rev": rev,
        "reps": reps,
        "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
        "rows": rows,
    }
    with open(os.path.join(REPO, "CCCROSSOVER.json"), "w") as f:
        json.dump(art, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
