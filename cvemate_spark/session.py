"""SparkSession factory.

Local-mode settings that still reflect the cluster design:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to cores locally (on a real cluster this is
  set to ~2-3x total executor cores, or left to AQE's coalescing)
- UTC session timezone so timestamp semantics match the DuckDB oracle
- `nanosAsLong` because the driver's `events` table stores parquet
  TIMESTAMP(NANOS) which Spark's vectorized reader refuses; the loader
  in tables.py converts the long back to a microsecond timestamp.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Runtime SQL confs the engine depends on — the one source of truth.
# All are dynamic, so get_spark builds them into its session and
# tables._ensure_session_confs re-applies them to a session someone
# else created (a plain SparkSession). Shuffle partitions
# are deliberately NOT here: get_spark sizes them to the core count,
# _ensure_session_confs pins its own value.
RUNTIME_SQL_CONFS: tuple[tuple[str, str], ...] = (
    # UTC keeps timestamp formatting aligned with the (UTC-naive)
    # DuckDB oracle; nanosAsLong makes the events parquet readable at
    # all (tables.py converts the long back to a timestamp)
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    # Join strategy (guide §3.1): let the planner pick shuffled-hash
    # over sort-merge when a side's per-partition build fits memory,
    # and let AQE rewrite SMJ->SHJ at runtime when every post-shuffle
    # partition is under 64 MB. Both are size-GUARDED: at 100 TB the
    # per-partition sides exceed the thresholds and the plan stays
    # sort-merge (spill-safe); at small/medium per-partition sizes
    # the two sort legs an SMJ pays are pure overhead. Measured on
    # the fold pipeline (4 keyed merges): warm 2.09s -> 1.74s, plan
    # 6 SortMergeJoin -> 6 ShuffledHashJoin, exchange count equal.
    ("spark.sql.join.preferSortMergeJoin", "false"),
    (
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        str(64 * 1024 * 1024),
    ),
    # let AQE re-partition cached-plan materialization (guide §2.2): a
    # persisted relation otherwise materializes at the raw shuffle
    # partition count even when AQE would coalesce it (measured: 32
    # one-row Python tasks for semdedup's 40-cell diag cache). Paired
    # A/B: emb_neardup_semdedup 1.50->1.39 s min, dedup_minhash a wash.
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
)


def get_spark(
    app_name: str = "cvemate_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    from .config import env_conf_overrides

    cpus = str(cpus or DEFAULT_CPUS)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # file-listing jobs get ONE task per path by default (capped at
        # 10000): planning a 4096-generation versioned table spent
        # 5.9 s of its 6.9 s in that listing job's task overhead
        # (MANIFESTBENCH_4096 plan_s). Bounding the listing parallelism
        # to ~2x cores turns it into 64 fat tasks — 0.85 s for the same
        # plan — and on a real cluster a bounded task count is equally
        # right (10000 tiny listing tasks is pure scheduler overhead).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            "64",
        )
    )
    for k, v in RUNTIME_SQL_CONFS:
        builder = builder.config(k, v)
    # precedence: explicit extra_conf argument > env override > default
    # (the reference's os.getenv(NAME, ini_default) chain,
    # config_handler.py:27-37, applied to session confs)
    for k, v in env_conf_overrides().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
