#!/usr/bin/env python3
"""Warm per-query timer: qtime.py <query> [runs] [sf_dir].

Times ONE registered query through the noop sink, `runs` warm passes
after one untimed warmup, printing each pass and the min/median.
Measurement-only tool (guide §1.4): isolates a builder from the suite
so an A/B of a single operator change is not confounded by the other
22 headline queries.

Spark runs at local[SPARK_GRAFT_CPUS], or at one thread per CPU this
process may run on when the variable is unset (as perfbench/run.py
does), so runs on one host compare without setting it.

Each pass also prints its Spark job count (the pass runs under its own
job group, read back from the status tracker) and its py4j round trips
(the gateway client's send_command calls from this thread during the
pass; py4j's finalizer thread releases JVM objects on its own schedule
and is left out). Neither depends on host load, so a "jobs X->Y" or
"round trips X->Y" claim reproduces with one command on any machine.

`cpu=` is the user+system CPU seconds the whole process tree spent in
the pass: this process, the JVM and its Python workers. Spark's
executor CPU metric leaves out Python-worker time, so an operator that
moves work into an Arrow batch function looks cheaper there than it
is; quote this figure for CPU claims.
"""
from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvemate_spark.queries import REGISTRY
from cvemate_spark.session import get_spark
from perfbench.run import tree_cpu_s


@contextlib.contextmanager
def counted(spark, group: str):
    """Count the Spark jobs and py4j round trips of the block; the
    yielded dict gains "jobs" and "round_trips" when the block exits."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    n = {"round_trips": 0}
    me = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            n["round_trips"] += 1
        return send(*args, **kwargs)

    sc.setJobGroup(group, group)
    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        n["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> int:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = get_spark("qtime", cpus=n_cpus)
    spec = REGISTRY.specs[name]
    spark.sparkContext.setJobDescription(f"qtime:{name}")
    # untimed warmup (codegen + parquet footer cache)
    spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    ts, cpus, jobs, trips = [], [], [], []
    for i in range(runs):
        with counted(spark, f"qtime:{name}:{i}") as n:
            c0, t0 = tree_cpu_s(), time.time()
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt, cpu = time.time() - t0, tree_cpu_s() - c0
        ts.append(dt)
        cpus.append(cpu)
        jobs.append(n["jobs"])
        trips.append(n["round_trips"])
        print(
            f"pass {i}: {dt:.3f}s cpu={cpu:.2f}s jobs={n['jobs']} "
            f"round_trips={n['round_trips']}",
            flush=True,
        )
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    print(
        f"{name}: min={min(ts):.3f} median={statistics.median(ts):.3f} "
        f"cpu={statistics.median(cpus):.2f} jobs={statistics.median(jobs):g} "
        f"round_trips={statistics.median(trips):g} "
        f"runs={runs} spark_cpus={n_cpus} loadavg={os.getloadavg()[0]:.1f}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
