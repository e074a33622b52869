#!/usr/bin/env python3
"""The round-closing battery — one command, every gate (r10 item 7).

The r9 dedup law verifier caught a real wrong-answer bug (silent
propagation truncation at max_iter on deep sf1 clusters), so it is now
a PERMANENT rung of the closing ladder: a future regression in the
propagation loop cannot close a round, because this battery fails
loudly when any OK-LAWS line goes missing.

Rungs (each prints PASS/FAIL; results land in BATTERY.json, where a
run of named rungs updates only those rungs):
  1. pytest tests/ -q
  2. full local oracle sweep     tools/check.py  sf0.01 (all queries)
  3. plan audit                  tools/plan_audit.py
  4. driver simulation           tools/driver_sim.py (plain session)
  5. dedup laws at scale         tools/dedup_laws.py on .scratch/sf1
     and .scratch/dup0.1 (each derived via gen_sf.py / gen_dup.py if
     absent) — OK-LAWS required for every closure-bounded family
     member on BOTH corpora
  6. trip self-test              the dedup verifier must FAIL when the
     propagation cap is deliberately broken (max_iter=0) — proves the
     tripwire actually trips, in-process, no files touched

Usage:
  python3 tools/battery.py              # full ladder
  python3 tools/battery.py 5 6          # only the named rungs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1 = f"{REPO}/.scratch/sf1"
DUP = f"{REPO}/.scratch/dup0.1"


def run(cmd: list[str], timeout: int = 3600) -> tuple[int, str]:
    r = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=timeout
    )
    return r.returncode, (r.stdout + r.stderr)


def rung_pytest() -> dict:
    # the FULL battery: a trailing -m overrides pytest.ini's default
    # fast profile (-m "not slow"), so round-close still runs the
    # heavyweight twin/fuzz suites the default excludes
    rc, out = run(
        [sys.executable, "-m", "pytest", "tests/", "-q",
         "-m", "slow or not slow"],
        3600,
    )
    tail = out.strip().splitlines()[-1] if out.strip() else ""
    return {"ok": rc == 0, "detail": tail}


def rung_sweep() -> dict:
    rc, out = run(
        [sys.executable, "tools/check.py", "/root/testdata/sf0.01"], 5400
    )
    tail = next(
        (ln for ln in reversed(out.splitlines()) if " ok, " in ln), ""
    )
    return {"ok": rc == 0, "detail": tail}


def rung_plan_audit() -> dict:
    rc, out = run([sys.executable, "tools/plan_audit.py"], 3600)
    tail = out.strip().splitlines()[-1] if out.strip() else ""
    return {"ok": rc == 0, "detail": tail}


def rung_driver_sim() -> dict:
    rc, out = run([sys.executable, "tools/driver_sim.py"], 5400)
    tail = next(
        (ln for ln in reversed(out.splitlines()) if ln.strip()), ""
    )
    return {"ok": rc == 0, "detail": tail}


def _ensure_corpus(path: str, gen_cmd: list[str]) -> None:
    if not os.path.isdir(path):
        print(f"  deriving {path} via {' '.join(gen_cmd)} ...")
        rc, out = run(gen_cmd, 3600)
        if rc != 0:
            raise RuntimeError(f"corpus generation failed: {out[-2000:]}")


def rung_dedup_laws() -> dict:
    _ensure_corpus(SF1, [sys.executable, "tools/gen_sf.py", "sf1"])
    _ensure_corpus(DUP, [sys.executable, "tools/gen_dup.py"])
    detail = {}
    ok = True
    for corpus in (SF1, DUP):
        rc, out = run(
            [sys.executable, "tools/dedup_laws.py", corpus], 7200
        )
        lines = [
            ln for ln in out.splitlines()
            if ln.startswith(("[OK-LAWS]", "[MISMATCH]"))
        ]
        for ln in lines:
            print(f"  {ln}")
        n_ok = sum(1 for ln in lines if ln.startswith("[OK-LAWS]"))
        detail[os.path.basename(corpus)] = f"{n_ok}/{len(lines)} OK-LAWS"
        ok = ok and rc == 0 and n_ok == len(lines) and lines
    return {"ok": bool(ok), "detail": detail}


def rung_trip_selftest() -> dict:
    """The tripwire must TRIP: with the propagation cap broken
    (max_iter=0), the components builder must raise loudly — never
    return unconverged labels — and the battery records that the
    failure mode is the loud one. The local-finish bound is set to 0
    so the 4-chain goes through the distributed rounds."""
    from pyspark.sql import Row

    from cvemate_spark.operators import dedup as D
    from cvemate_spark.session import get_spark

    spark = get_spark("battery-trip", cpus=4, shuffle_partitions=4)
    pairs = spark.createDataFrame(
        [Row(d1=1, d2=2), Row(d1=2, d2=3), Row(d1=3, d2=4), Row(d1=4, d2=5)]
    )
    saved, D.LOCAL_FINISH_ARCS = D.LOCAL_FINISH_ARCS, 0
    try:
        D.dedup_components(pairs, max_iter=0).collect()
    except RuntimeError as e:
        tripped = "no fixpoint" in str(e)
        return {
            "ok": tripped,
            "detail": f"tripped loudly: {str(e)[:80]}" if tripped
            else f"raised the WRONG error: {e}",
        }
    finally:
        D.LOCAL_FINISH_ARCS = saved
    return {
        "ok": False,
        "detail": "cap exhaustion returned labels silently — the r9 "
        "truncation bug's failure mode is BACK",
    }


RUNGS = {
    "1_pytest": rung_pytest,
    "2_oracle_sweep": rung_sweep,
    "3_plan_audit": rung_plan_audit,
    "4_driver_sim": rung_driver_sim,
    "5_dedup_laws": rung_dedup_laws,
    "6_dedup_trip_selftest": rung_trip_selftest,
}


def record(path: str, results: dict) -> dict:
    """Write a run's results into the battery file: the rungs that ran
    replace their entries, every other rung keeps its recorded one (a
    run of named rungs must not erase the rest)."""
    try:
        with open(path) as f:
            merged = json.load(f)
    except FileNotFoundError:
        merged = {}
    merged.update(results)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    return merged


def main() -> int:
    picks = set(sys.argv[1:])
    results = {}
    failed = []
    for name, fn in RUNGS.items():
        if picks and name.split("_")[0] not in picks and name not in picks:
            continue
        print(f"== {name} ==")
        t0 = time.time()
        try:
            r = fn()
        except Exception as e:  # a rung crashing is a rung failing
            r = {"ok": False, "detail": f"crashed: {e}"}
        r["wall_s"] = round(time.time() - t0, 1)
        results[name] = r
        status = "PASS" if r["ok"] else "FAIL"
        print(f"   {status} ({r['wall_s']}s) {r['detail']}")
        if not r["ok"]:
            failed.append(name)
    results["loadavg_1m"] = os.getloadavg()[0]
    record(f"{REPO}/BATTERY.json", results)
    print(f"battery: {'PASS' if not failed else 'FAIL ' + str(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
