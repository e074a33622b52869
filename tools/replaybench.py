#!/usr/bin/env python3
"""Warm-session replay-path timings (s3 / s18 / s19 / s20) at sf0.01.

The STREAMBENCH "replay paths" section: one streaming warm-up query,
then 3 runs of each replay query on the same session, min recorded.
s19 is the consumer-side target the round-9 verdict flagged (4.63 s
min at r9); round 10 trims it via the change_feed bootstrap shortcut
(empty-init since-manifest -> insert feed, no outer join) and a
coalesced replica write.

Usage: python3 tools/replaybench.py [sf_dir] [runs]
Updates STREAMBENCH.json under "round10_replay_paths_sf0.01" when the
inputs are the recorded run's (sf0.01, 3 runs); any other run writes
STREAMBENCH_<differing inputs>.json (tools/artifacts.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from tools.artifacts import artifact_path, data_token  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3

QUERIES = [
    "s3_merge_replay",
    "s18_versioned_replay",
    "s19_feed_replica",
    "s20_mor_replay",
]


def main() -> None:
    from cvemate_spark.queries import REGISTRY
    from cvemate_spark.session import get_spark

    spark = get_spark()
    # warm-up: one streaming query end to end (JVM + state machinery)
    REGISTRY.specs["s1_tumbling"].builder(spark, SF_DIR).count()

    out: dict = {
        "note": (
            "warm-session, min of N runs after one streaming warm-up "
            "query. Round-10 s19 trim: change_feed bootstrap shortcut "
            "(empty-init since-manifest returns the snapshot tagged "
            "insert, no outer join) + coalesced replica writes + the "
            "co-located applied-version marker replacing the external "
            "checkpoint file (one fewer fsync'd state file per poll)."
        ),
    }
    for name in QUERIES:
        runs = []
        rows = None
        for _ in range(RUNS):
            t0 = time.time()
            rows = REGISTRY.specs[name].builder(spark, SF_DIR).count()
            runs.append(round(time.time() - t0, 2))
        out[name] = {"rows": rows, "runs": runs, "min": min(runs)}
        print(name, out[name])
    out["loadavg_1m"] = os.getloadavg()[0]

    dst = artifact_path(
        "STREAMBENCH",
        {"STREAMBENCH.json": ("sf0.01", "r3")},
        (data_token(SF_DIR), f"r{RUNS}"),
    )
    if dst.name == "STREAMBENCH.json":
        with open(dst) as f:
            doc = json.load(f)
        doc["round10_replay_paths_sf0.01"] = out
        out = doc
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {dst.name}")


if __name__ == "__main__":
    main()
