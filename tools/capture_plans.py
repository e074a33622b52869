#!/usr/bin/env python3
"""Capture .explain('formatted') output for queries into plans/<tag>/.

Usage:
  python3 tools/capture_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default:
the bench HEADLINE list). The explain output is the INITIAL plan
(AdaptiveSparkPlan isFinalPlan=false) — the shape the optimizer
committed to before AQE runtime re-planning, which is the right
artifact for plan-diff claims (Exchange count, join strategy,
PushedFilters, ReadSchema, Python-eval nodes).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cvemate_spark.queries import REGISTRY
from cvemate_spark.session import get_spark


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = f"{REPO}/plans/{tag}"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        spec = REGISTRY.specs[name]
        try:
            df = spec.builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # builder needs runtime state (streaming)
            plan = f"<explain failed: {type(e).__name__}: {e}>\n"
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(f"[plan] {name} -> {out_dir}/{name}_{suffix}.txt")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
