#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q01": sec, ...}, "queries_median": {...},
     "runs": N, "sf": "..."}

Each query is materialized through the noop sink (full execution, no
driver-side collect). The session mirrors the cluster design: AQE on,
shuffle partitions ~ cores.

Protocol: N full passes over the suite (default 5, override with
$SPARK_GRAFT_BENCH_N), reporting per-query MIN as the headline number
and median alongside. This container's wall clock swings ±20-30% on
zero guest load (BASELINE.md variance note), so a single reading is
noise; min-of-N is the stable estimator of the plan's true cost and
median shows the spread.

Noise self-defense (VERDICT r5 item 2 — the committed BENCH_r05 was
recorded on a loaded machine and read 43% above the same code's
reproducible number, with nothing in the artifact saying so): the
output now records the machine's loadavg and process count at start
and end, and the median/min divergence ratio. When median exceeds min
by more than the band, the harness AUTO-RETRIES extra passes
(min-of-N absorbs transient load if it clears) and, if the
divergence persists, stamps "load_skewed": true into the artifact
itself — a reading that can testify against its own recording
conditions.

Hardened for the steal-prone hosts of rounds 13+ (VERDICT r13 item 1:
the r13 driver run was ~25-50% inflated by host CPU steal yet passed
the old 1.30 band and stamped load_skewed: false, producing 21 false
regressions). Additions only — no field removed or renamed:
  * /proc/stat steal jiffies are sampled around EVERY pass;
    "pass_steal_pct" records each pass's steal as % of one core and
    "pass_totals" each pass's suite wall clock, so an auditor can see
    exactly which passes ran under interference;
  * the skew band tightens 1.30 -> 1.15, and a run is additionally
    stamped "load_skewed": true when NO pass ran in a clean window
    (steal <= 2% of one core) — steal the old divergence ratio could
    not see (a uniformly stolen run has a LOW median/min);
  * on skew (divergence over band OR no clean pass yet) the harness
    keeps running extra passes until a clean-window pass lands,
    bounded at +6 (was +2), and stops early once two consecutive extra
    passes ran unclean without their steal falling (a persistently
    stolen host would otherwise pay all +6 passes); "stop_reason"
    records which rule ended the loop;
  * "cpus" (the Spark core count) and "git_rev" name the recording
    context.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cvemate_spark.queries import REGISTRY
from cvemate_spark.session import get_spark

# Headline set: one per operator class (SURVEY §2).
HEADLINE = [
    "q01",   # scan + filter pushdown
    "q05",   # upsert-merge rewrite (full outer join)
    "q06",   # 3-way join + agg (TPC-H Q3 shape)
    "q07",   # broadcast star join
    "q10",   # range/theta self-join
    "q11",   # TPC-H Q1 aggregation
    "q13",   # distinct agg
    "q15",   # window keep-latest
    "q17",   # top-k
    "q19",   # scoring ladder
    "q24",   # text tokenize + top terms
    "q27",   # sessionization
    "e_asof",          # as-of join (union + window)
    # OP-MERGE fold + OP-SCORE (the CveMate core). This is the
    # scale-bearing parquet-derived pipeline that BASELINE.md and
    # BENCH_r01 measured under the name "cve_pipeline"; that name now
    # belongs to the 8-feed landing-file pipeline, whose inputs are
    # LIMIT-capped and therefore not a throughput story at any SF.
    "cve_pipeline_fold",
    "dedup_minhash",   # MinHash LSH pipeline
    "curate_pipeline", # composed curation pass (langid+quality+dedup)
    "dedup_exact",     # hash dedup
    "q26",             # cosine top-k
    "ann_lsh",         # hyperplane-LSH ANN
    # pair similarity search, both routes. `emb_neardup` is the
    # deliberate O(n²) brute-force control (annotated as such in
    # BASELINE.md); it stays in the suite because the bench contract
    # forbids removing a recorded entry. `emb_neardup_semdedup` is the
    # ADDED angular-bound-pruned EXACT route (SemDeDup cells +
    # spherical-triangle-inequality cell-pair pruning) — the
    # scale-safe plan for the same question (VERDICT r12 item 4).
    "emb_neardup",
    "emb_neardup_semdedup",
    "mm_meta",         # Arrow mapInPandas plumbing
    "s1_tumbling",     # structured streaming tumbling agg
    "s3_merge_replay", # foreachBatch keyed MERGE
]

# the noise band: median > 1.15x min across the suite means passes ran
# under materially different machine conditions (tightened from 1.30 —
# VERDICT r13 item 1: a 25-50% steal-inflated run slid under the old
# band)
BAND = 1.15
MAX_EXTRA = 6
# a pass is "clean" when host steal stayed <= 2% of one core for its
# whole duration (VERDICT r13 item 1; idle-calm on these hosts measures
# well under 1%)
STEAL_CLEAN_PCT = 2.0


def extra_pass_stop(
    pass_steal_pct: list[float], extra: int, skewed: bool
) -> str | None:
    """Why the extra-pass loop stops now, or None to run another pass.

    `extra` passes have run beyond the base passes; `skewed` is true
    while divergence is over band or no clean pass has landed. The
    loop gives up early when the last two extra passes were both
    unclean and neither lowered steal below the pass before it."""
    if not skewed:
        return "in_band"
    if extra >= MAX_EXTRA:
        return "max_extra"
    tail = pass_steal_pct[-3:]
    if extra >= 2 and all(
        cur > STEAL_CLEAN_PCT and cur >= prev for prev, cur in zip(tail, tail[1:])
    ):
        return "steal_not_falling"
    return None


def git_rev() -> str | None:
    repo = os.path.dirname(os.path.abspath(__file__))
    r = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
    )
    return r.stdout.strip() or None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench", cpus=cpus)

    # warm the JVM fully (codegen, shuffle, parquet reader) with one
    # untimed representative query, then a trivial file-listing action
    REGISTRY.specs["q11"].builder(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def load_context() -> dict:
        la1, la5, la15 = os.getloadavg()
        nproc = sum(1 for p in os.listdir("/proc") if p.isdigit())
        return {"loadavg_1m": round(la1, 2), "loadavg_5m": round(la5, 2),
                "nproc": nproc}

    def read_steal_jiffies() -> int:
        # aggregate "cpu " line, field 9 = steal (time the hypervisor
        # ran somebody else while this guest had runnable work)
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            return int(parts[8])
        except (OSError, IndexError, ValueError):
            return 0

    CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    pass_totals: list[float] = []
    pass_steal_pct: list[float] = []

    def run_pass(samples: dict[str, list[float]]) -> None:
        steal0 = read_steal_jiffies()
        wall0 = time.time()
        for name in HEADLINE:
            spec = REGISTRY.specs[name]
            t0 = time.time()
            df = spec.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            # operators cache intermediates (e.g. shingle relations);
            # drop them so later queries aren't measured under memory
            # pressure
            spark.catalog.clearCache()
            # Spark's ContextCleaner only reclaims shuffle files /
            # broadcast blocks when the driver GCs, and
            # periodicGC.interval defaults to 30 min — far longer than
            # this suite. Without this, freed blocks pile up and the
            # last third of the suite runs 2-3x slower (measured: tail
            # queries 7-9 s vs 3 s). The forced GC sits outside the
            # timed window, so it costs the metric nothing.
            spark.sparkContext._jvm.System.gc()
        elapsed = max(time.time() - wall0, 1e-9)
        steal_cores = (read_steal_jiffies() - steal0) / CLK_TCK / elapsed
        pass_totals.append(round(sum(ts[-1] for ts in samples.values()), 3))
        pass_steal_pct.append(round(100.0 * steal_cores, 2))

    ctx_start = load_context()
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "5")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(n_runs):
        run_pass(samples)

    def divergence() -> float:
        tot_min = sum(min(ts) for ts in samples.values())
        tot_med = sum(statistics.median(ts) for ts in samples.values())
        return tot_med / max(tot_min, 1e-9)

    def have_clean_pass() -> bool:
        return any(p <= STEAL_CLEAN_PCT for p in pass_steal_pct)

    extra_passes = 0
    # keep going until a clean-window pass lands AND divergence is in
    # band; min-of-N absorbs transient load if it clears
    while not (
        stop := extra_pass_stop(
            pass_steal_pct,
            extra_passes,
            divergence() > BAND or not have_clean_pass(),
        )
    ):
        extra_passes += 1
        run_pass(samples)

    best = {name: round(min(ts), 3) for name, ts in samples.items()}
    median = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(best.values()), 3)
    div = round(divergence(), 3)
    print(
        json.dumps(
            {
                "metric": "headline-suite wall clock (min of runs)",
                "value": total,
                "unit": "sec",
                "queries": best,
                "queries_median": median,
                "runs": n_runs + extra_passes,
                "extra_passes_on_divergence": extra_passes,
                "stop_reason": stop,
                "median_over_min": div,
                "load_skewed": div > BAND or not have_clean_pass(),
                "band": BAND,
                "pass_totals": pass_totals,
                "pass_steal_pct": pass_steal_pct,
                "steal_clean_threshold_pct": STEAL_CLEAN_PCT,
                "n_clean_passes": sum(
                    1 for p in pass_steal_pct if p <= STEAL_CLEAN_PCT
                ),
                "load_start": ctx_start,
                "load_end": load_context(),
                "sf": sf_dir,
                "cpus": int(cpus) if cpus.isdigit() else cpus,
                "git_rev": git_rev(),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
