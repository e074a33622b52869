"""CveMate lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): nightly_refresh, analyst_reads,
curation_dedup. One process, one closed-loop client,
Spark at local[nproc]. Inputs are generated from the seed into a
scratch directory under the checkout, which is removed at exit.

The run generates its inputs, starts a session and builds the
workload's state (timed together as setup_s), then runs ops until
their summed latency reaches --seconds, and at least MIN_OPS of them.
End-to-end metrics: setup_s, op_p50_s (median op latency) and
cpu_per_op_s (median CPU seconds of the whole process tree per op).
Workload figures (per-kind latencies with sample counts, bytes per
row, peak RSS, failed fraction) are printed above the result line.
Every op's output is checked
against the generator's truth model (or, for curation_dedup, the
package's DuckDB oracle) outside the timed windows; an op that raises
or fails its check counts in `failed`, and so does a failed check of
the state set-up built, which counts as one attempt.

--trace 0 prints the end-to-end metrics. --trace 1 alternates untraced
and traced ops, writes the span file to perfbench/out/ and prints the
per-layer metrics (report.py reads the span file). The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input sizes: a whole run (JVM start, set-up, at least three ops) takes
# 38 s (CVE workloads) to 49 s (dedup) on a 4-core host. Traced at these
# sizes, the pair stage of the dedup pass runs 1.3 s of executor CPU in
# its 2.2 s, and the nightly EPSS commit 0.7 s in its 1.2 s; component
# propagation, lookups and change feeds stay bound by Spark job count.
SIZES = {"n_ids": 6_000, "n_docs": 8_000}

MIN_OPS = 3

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("cpu_per_op_s", "s"),
)


# ------------------------------------------------------------ /proc
def _proc_tree() -> list[int]:
    """This process and all its descendants (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out = [os.getpid()]
    for pid in out:
        out.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the process tree, reaped children included."""
    ticks = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def git_rev(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    p = os.path.join(root, ".git", ref)
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    return "unknown"


# ------------------------------------------------------------ session
def start_session(tmp: str, cpus: int):
    from cvemate_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ run
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    import pyspark

    import workloads
    from tracer import Span, Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    stat0, load0 = cpu_stat(), os.getloadavg()
    spark = None
    try:
        ctx = workloads.Ctx(None, None, tmp, args.seed, SIZES)
        w = workloads.WORKLOADS[args.workload](ctx)
        inputs = w.inputs()

        t0 = time.time()
        spark = start_session(tmp, cpus)
        session_s = time.time() - t0
        ctx.spark = spark
        ctx.tracer = tracer = Tracer(spark, enabled=False)
        if args.trace:  # the traced run also traces set-up, as op "setup"
            s = Span(0, None, "setup", "session.start")
            s.start, s.end = t0, t0 + session_s
            tracer.spans.append(s)
            tracer.enabled, tracer.op = True, "setup"
        t1 = time.perf_counter()
        w.setup()
        state_s = time.perf_counter() - t1
        tracer.enabled = False

        lat, cpu, traced_s, untraced_s = [], [], [], []
        failed, errors, spent, i = 0, [], 0.0, 0
        err = w.check_setup()
        if err is not None:
            failed += 1
            errors.append(f"setup: {err}"[:500])
        # at least MIN_OPS ops, so that the median is never the first op,
        # which pays the JVM's first-call compilation. The traced run: op 0
        # untraced (left out of the overhead), then pairs of one traced and
        # one untraced op, in alternating order, and never a half pair
        while spent < args.seconds or i < MIN_OPS or (args.trace and i % 2 == 0):
            w.prepare(i)
            traced = bool(args.trace) and i > 0 and (i - 1) % 2 == (i - 1) // 2 % 2
            tracer.enabled, tracer.op = traced, f"op{i}"
            c0, t = tree_cpu_s(), time.perf_counter()
            out, err = None, None
            try:
                if traced:
                    with tracer.span(f"op:{w.name}"):
                        out = w.op(i)
                else:
                    out = w.op(i)
            except Exception as e:  # a failed op is counted, not fatal
                err = f"op {i} raised {type(e).__name__}: {e}"
            dt_s = time.perf_counter() - t
            cpu.append(tree_cpu_s() - c0)
            tracer.enabled = False
            lat.append(dt_s)
            if i > 0:
                (traced_s if traced else untraced_s).append(dt_s)
            spent += dt_s
            if err is None:
                try:
                    err = w.check(i, out)
                except Exception as e:
                    err = f"check {i} raised {type(e).__name__}: {e}"
            if err is not None:
                failed += 1
                errors.append(err[:500])
            i += 1
        extra = w.extra()
        peak = tree_peak_rss_mb()
        if args.trace:
            import report

            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            span_file = os.path.join(HERE, "out", f"spans-{w.name}-seed{args.seed}.jsonl")
            meta = {"workload": w.name, "seed": args.seed, "traced_s": traced_s,
                    "untraced_s": untraced_s}
            tracer.write(span_file, meta)
            metrics = report.per_layer(meta, [s.as_dict() for s in tracer.spans])
        else:
            span_file = None
            values = {"setup_s": session_s + state_s, "op_p50_s": median(lat),
                      "cpu_per_op_s": median(cpu)}
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    attempted = len(lat) + 1  # the set-up check counts as one attempt
    stat1 = cpu_stat()
    total, steal = stat1[0] - stat0[0], stat1[1] - stat0[1]
    context = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "git_rev": git_rev(ROOT), "spark": pyspark.__version__,
        "python": platform.python_version(), "inputs": inputs,
        "steal_pct": 100.0 * steal / total if total else 0.0,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "session_s": session_s, "state_s": state_s,
        "ops": len(lat), "op_s": lat, "span_file": span_file,
    }
    workload_metrics = {
        f"{w.op_name}_p50_s": {"value": median(lat), "unit": "s", "n": len(lat)},
        "failed_frac": {"value": failed / attempted, "unit": "1"},
        "peak_rss_mb": {"value": peak, "unit": "MB"},
        **extra,
    }
    return {"context": context, "workload_metrics": workload_metrics, "errors": errors,
            "result": {"correct": failed == 0 and len(lat) > 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics}}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import cvemate_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    res = run(args)
    print("context " + json.dumps(res["context"]))
    for name, m in res["workload_metrics"].items():
        n = f"  (n={m['n']})" if "n" in m else ""
        print(f"workload {name:28} {m['value']:>14.6g} {m['unit']}{n}")
    for e in res["errors"]:
        print(f"error {e}")
    for name, m in res["result"]["metrics"].items():
        print(f"metric {name:44} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
