"""The point-lookup driver path: `merge.bucket_of_value` resolves a
key's bucket without a Spark job for `str` and 64-bit `int` keys, and
must agree with the write path's `merge.bucket_expr` on every value."""

from __future__ import annotations

import datetime
import decimal
import random

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import Row, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cvemate_spark.operators.merge import bucket_expr, bucket_of_value, merge_upsert
from cvemate_spark.operators.merge_versioned import (
    read_bucket_for_key_versioned,
    write_bucket_table_versioned,
)

WIDTHS = (1, 7, 16, 4096)


def _jvm_bucket(spark, value, n_buckets: int) -> int:
    """The 1-row JVM evaluation every key type went through before the
    driver-side hash existed."""
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(value).cast("string")), F.lit(n_buckets)))
        .collect()[0][0]
    )


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _key_values(seed: int = 7) -> tuple[list[int], list[str]]:
    rng = random.Random(seed)
    ints = [-(2**63), 2**63 - 1, 0, -1, 1, -42, 2**31, -(2**31) - 1]
    ints += [rng.randint(-(2**63), 2**63 - 1) for _ in range(150)]
    ints += [rng.randint(-1000, 1000) for _ in range(50)]
    alphabet = "abcXYZ019-_ ü€中𝄞😀"  # 1-, 2-, 3- and 4-byte UTF-8
    strs = ["", "CVE-2024-0001", "ü", "€", "中文", "𝄞", "a😀b", " "]
    strs += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        for _ in range(150)
    ]
    strs += [f"CVE-{rng.randint(1999, 2030)}-{rng.randint(0, 99999):04d}" for _ in range(50)]
    return ints, strs


def test_bucket_of_value_matches_bucket_expr(spark):
    """Law: for str and int keys the driver-side hash equals the
    bucket Spark computes with bucket_expr on a column of the same
    values, at every width."""
    ints, strs = _key_values()
    for values, typ in ((ints, LongType()), (strs, StringType())):
        df = spark.createDataFrame(
            [(v,) for v in values], StructType([StructField("k", typ)])
        )
        rows = df.select(
            "k", *[bucket_expr("k", n).alias(f"b{n}") for n in WIDTHS]
        ).collect()
        assert len(rows) == len(values)
        for r in rows:
            for n in WIDTHS:
                assert bucket_of_value(spark, r["k"], n) == r[f"b{n}"], (r["k"], n)


def test_bucket_of_value_other_types_keep_jvm_evaluation(spark):
    """bool, float, Decimal and date keys still go through Spark's
    cast on a 1-row frame (a bool prints as "true" there, not "True"),
    and an int beyond 64 bits still raises."""
    others = [
        True, False, 1.5, -0.0, 0.0, 1e300, float("nan"),
        decimal.Decimal("1.10"), decimal.Decimal("-0"), datetime.date(2024, 1, 31),
    ]
    for v in others:
        assert bucket_of_value(spark, v, 16) == _jvm_bucket(spark, v, 16), v
    assert bucket_of_value(spark, True, 16) == bucket_of_value(spark, "true", 16)
    with pytest.raises(Py4JError):
        bucket_of_value(spark, 2**70, 16)


def test_bucket_of_value_str_and_int_run_no_job(spark):
    assert _jobs(spark, "bucket-str", lambda: bucket_of_value(spark, "CVE-2024-0001", 16)) == 0
    assert _jobs(spark, "bucket-int", lambda: bucket_of_value(spark, -(2**63), 16)) == 0
    assert _jobs(spark, "bucket-bool", lambda: bucket_of_value(spark, True, 16)) == 1


# Spark jobs of one point lookup plus its collect on a 16-bucket
# versioned table with no deltas, deletion vectors or key bloom. The
# bucket's one generation is under LOCAL_READ_BYTES, so it is read on
# the driver with pyarrow and the collect runs on a local relation.
# Resolving the bucket used to run a job (a 1-row frame per key), and
# the scan of the generation another. Job counts do not depend on host
# load, so a regression fails here whatever the CPU steal.
LOOKUP_JOBS = 0
# the same lookup with the local read forced off (LOCAL_READ_BYTES = 0):
# the Spark scan of the generation
LOOKUP_JOBS_SPARK_READ = 1


def test_lookup_job_count_pin(spark, tmp_path, monkeypatch):
    from cvemate_spark.operators import merge_versioned as mv

    local_bound = mv.LOCAL_READ_BYTES
    for name, keys in (("str", [f"CVE-2024-{i:04d}" for i in range(200)]),
                       ("int", list(range(-100, 100)))):
        path = str(tmp_path / name)
        base = spark.createDataFrame([Row(id=k, v=f"x{k}") for k in keys])
        write_bucket_table_versioned(
            merge_upsert(None, base, now="2024-01-01 00:00:00"),
            path, key="id", n_buckets=16,
        )
        key = keys[37]
        for bound, want_jobs in ((local_bound, LOOKUP_JOBS),
                                 (0, LOOKUP_JOBS_SPARK_READ)):
            monkeypatch.setattr(mv, "LOCAL_READ_BYTES", bound)
            rows = []
            jobs = _jobs(
                spark, f"lookup-pin-{name}-{bound}",
                lambda: rows.extend(read_bucket_for_key_versioned(spark, path, key).collect()),
            )
            assert [r["v"] for r in rows] == [f"x{key}"], (name, bound)
            assert jobs == want_jobs, (name, bound, jobs)
