"""Trace reader: turns a span file into the per-layer table.

    python3 perfbench/report.py perfbench/out/spans-<workload>-seed<n>.jsonl

The span file's first line is a meta record (workload, op latencies of
the traced and the untraced ops); every other line is one span (see
tracer.py). For each layer's span family the reader gives the mean per
call of the span's self time (its duration minus its child spans),
its Spark counters, the time it ran no Spark job (`driver_gap_s`) and
the counts the benchmark attached; then the Spark totals per op and
the tracing overhead (median traced op minus median untraced op; the
run alternates them in pairs after one untraced first op).
`per_layer()` is also what the benchmark prints with `--trace 1`.
"""

from __future__ import annotations

import json
import statistics
import sys

SPARK = (
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("driver_gap_s", "s", "lower"),
)

# (span family, runs Spark jobs, extra counts with unit and direction)
FAMILIES = (
    ("session.start", False, ()),
    ("sources.read_normalize", True, (("rows_out", "rows", "higher"),)),
    ("merge.fold", True, ()),
    ("pipeline.write", True, (("bytes_out", "B", "lower"),)),
    ("scoring.score", True, ()),
    ("merge_versioned.commit", True, (
        ("buckets_touched", "count", "lower"),
        ("files_rewritten", "count", "lower"),
        ("bytes_rewritten", "B", "lower"),
    )),
    ("merge_versioned.vacuum", False, (("bytes_freed", "B", "higher"),)),
    ("merge_versioned.lookup", True, ()),
    ("merge_versioned.scan", True, ()),
    ("merge_versioned.feed", True, (("rows_out", "rows", "higher"),)),
    ("dedup.pairs", True, (("rows_out", "rows", "higher"),)),
    ("dedup.components", True, (("rows_out", "rows", "higher"),)),
)

# spans that run only while the workload sets up (the initial sync)
SETUP_FAMILIES = ("session.start", "merge.fold", "pipeline.write")

TOTALS = (
    ("spark.gc_s", "s", "lower"),
    ("spark.exec_run_s", "s", "lower"),
    ("tracing.overhead_s", "s", "lower"),
)


def metric_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in print order."""
    out = []
    for fam, spark, extra in FAMILIES:
        out.append((f"{fam}.self_s", "s", "lower"))
        if spark:
            out += [(f"{fam}.{k}", u, b) for k, u, b in SPARK]
        out += [(f"{fam}.{k}", u, b) for k, u, b in extra]
    return out + list(TOTALS)


def family(name: str) -> str:
    """`sources.read_normalize:nvd` -> `sources.read_normalize`."""
    return name.split(":", 1)[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_rows(spans: list[dict]) -> list[dict]:
    """Per span: self time, driver gap, Spark counters and counts."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    rows = []
    for s in spans:
        child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        dur = s["end"] - s["start"]
        sp = s.get("spark") or {}
        row = {"family": family(s["name"]), "name": s["name"], "op": s["op"],
               "self_s": dur - _covered(child, s["start"], s["end"])}
        if sp:
            row["driver_gap_s"] = dur - _covered(
                child + [tuple(i) for i in sp.get("job_intervals", [])], s["start"], s["end"])
            for k in ("jobs", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
                      "shuffle_bytes", "spill_bytes"):
                row[k] = sp.get(k, 0)
        row.update(s.get("counts") or {})
        rows.append(row)
    return rows


def per_layer(meta: dict, spans: list[dict]) -> dict[str, dict]:
    """The per-layer metrics of one traced run. Family figures are means
    per call over the traced ops, except the set-up families (the session
    start and the initial sync's fold and write), which are means over
    set-up; a family the workload bypasses reads 0. Spark totals are per
    traced op."""
    rows = span_rows(spans)
    ops = {r["op"] for r in rows if r["op"] not in (None, "setup")}
    units = {n: u for n, u, _ in metric_specs()}
    vals: dict[str, float] = {n: 0.0 for n in units}
    for fam, _, _ in FAMILIES:
        mine = [r for r in rows if r["family"] == fam
                and (r["op"] == "setup" if fam in SETUP_FAMILIES else r["op"] in ops)]
        for r in mine:
            for k, v in r.items():
                name = f"{fam}.{k}"
                if name in vals:
                    vals[name] += v / len(mine)
    for r in rows:
        if r["op"] in ops:
            vals["spark.gc_s"] += r.get("gc_s", 0) / len(ops)
            vals["spark.exec_run_s"] += r.get("exec_run_s", 0) / len(ops)
    traced, untraced = meta.get("traced_s", []), meta.get("untraced_s", [])
    if traced and untraced:
        vals["tracing.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return {n: {"value": vals[n], "unit": units[n]} for n in units}


def read(path: str) -> tuple[dict, list[dict]]:
    with open(path) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    return lines[0]["meta"], lines[1:]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    meta, spans = read(argv[1])
    rows = span_rows(spans)
    ops = {r["op"] for r in rows if r["op"] not in (None, "setup")}
    print(f"workload {meta['workload']}  seed {meta['seed']}  traced ops {len(ops)}")
    print(f"{'phase':6} {'span':40} {'calls':>6} {'self_s':>9} {'gap_s':>8} {'jobs':>7} "
          f"{'tasks':>8} {'cpu_s':>8} {'shuffle_B':>11}")
    for phase, keep in (("setup", lambda op: op == "setup"), ("op", lambda op: op in ops)):
        for name in sorted({r["name"] for r in rows if keep(r["op"])}):
            mine = [r for r in rows if r["name"] == name and keep(r["op"])]
            n = len(mine)

            def mean(k):
                return sum(r.get(k, 0) for r in mine) / n
            print(f"{phase:6} {name:40} {n:>6} {mean('self_s'):>9.4f} "
                  f"{mean('driver_gap_s'):>8.4f} {mean('jobs'):>7.1f} {mean('tasks'):>8.1f} "
                  f"{mean('exec_cpu_s'):>8.3f} {mean('shuffle_bytes'):>11.0f}")
    print()
    for name, m in per_layer(meta, spans).items():
        print(f"{name:48} {m['value']:>14.6g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
