"""The local writer of small classic-layout writes: when a write's
driver-side size estimate is at most `LOCAL_WRITE_BYTES`,
`_write_generations` collects the rows once with toArrow() and writes
each bucket's file with pyarrow. Law: a table written that way reads
back the same schema and rows as its twin written by Spark (the bound
forced to 0) at every version, and its harvested stats prune the same.

Batches come from parquet files, as feeds do: Spark's plan estimate of
a file scan is its size, while a frame built from Python rows has no
estimate and always keeps the Spark writer."""

from __future__ import annotations

import datetime
import decimal
import json
import logging
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from cvemate_spark.operators import merge_versioned as mv
from cvemate_spark.operators.merge import bucket_of_value
from test_point_lookup import _jobs

T0 = "2024-01-01 00:00:00"
T1 = "2024-02-01 00:00:00"
N_BUCKETS = 8
INSTANTS = [
    datetime.datetime(1000, 1, 1, 0, 0, 0),
    datetime.datetime(1960, 5, 5, 1, 2, 3, 456789),
    datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
]

META = StructType([
    StructField("src", StringType()),
    StructField("seen", TimestampType()),
    StructField("score", DoubleType()),
])
SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("n", LongType()),
    StructField("ts", TimestampType()),
    StructField("ntz", TimestampNTZType()),
    StructField("d", DateType()),
    StructField("price", DecimalType(10, 2)),
    StructField("big", DecimalType(38, 6)),
    StructField("tags", MapType(StringType(), LongType())),
    StructField("notes", MapType(
        StringType(), ArrayType(StructType([StructField("p", DoubleType())])))),
    StructField("refs", ArrayType(StructType([
        StructField("u", StringType()), StructField("w", ArrayType(LongType()))]))),
    StructField("blob", BinaryType()),
    StructField("meta", META),
])


def _row(k: str, i: int) -> tuple:
    ts = INSTANTS[i % 3]
    return (
        k,
        i,
        ts if i % 4 else None,
        ts.replace(microsecond=0),
        datetime.date(1500, 1, 31) if i % 2 else datetime.date(1582, 10, 4 + i % 11),
        decimal.Decimal(f"{i}.25"),
        decimal.Decimal(f"{10**31 + i}.123456") * (-1 if i % 2 else 1),
        {"a": i, "b": -i} if i % 2 else None,
        {"x": [Row(p=1.5)]} if i % 4 == 1 else (None if i % 4 == 3 else {"y": []}),
        [Row(u=f"u{i}", w=[i, None])] if i % 3 else None,
        bytes([i % 256, 0, 255]) if i % 5 else None,
        Row(src="nvd", seen=INSTANTS[(i + 1) % 3], score=None if i % 2 else i / 3),
    )


def gate_log(caplog) -> None:
    """Record the driver-local path answers (`mv._slice_gate`) in
    `caplog`; `paths` reads them back."""
    caplog.set_level(logging.DEBUG, logger=mv.__name__)


def paths(caplog, surface: str) -> list[tuple[bool, str | None]]:
    """(taken, reason) of each recorded answer for `surface`, in order."""
    return [
        (r.taken, r.reason) for r in caplog.records
        if getattr(r, "surface", None) == surface
    ]


def _feed(spark, root: Path, name: str, rows, schema):
    d = str(root / "feeds" / name)
    spark.createDataFrame(rows, schema).write.parquet(d)
    return spark.read.parquet(d)


def _writers(path: str, before: dict, after: dict) -> set[str]:
    """The `created_by` prefixes of the files of the generations `after`
    references and `before` did not."""
    out = set()
    for i, g in after["buckets"].items():
        gens = [g] + [d["g"] for d in (after.get("deltas") or {}).get(i, [])]
        old = [before["buckets"].get(i)] + [
            d["g"] for d in (before.get("deltas") or {}).get(i, [])
        ]
        for gg in gens:
            if gg in old:
                continue
            for f in mv._data_files(mv._gen_data_path(path, i, gg)):
                out.add(pq.ParquetFile(f).metadata.created_by.split(" ")[0])
    return out


class Twins:
    """One table per writer; every step runs on both and then every
    committed version must read the same on both."""

    def __init__(self, spark, root: Path):
        self.spark = spark
        self.paths = {"local": str(root / "local"), "spark": str(root / "spark")}

    def step(self, fn):
        for side, path in self.paths.items():
            bound = mv.LOCAL_WRITE_BYTES if side == "local" else 0
            before = (
                mv._load_manifest_full(path, mv.latest_version(path))
                if (Path(path) / "_LATEST").exists() else {"buckets": {}}
            )
            saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, bound
            try:
                fn(path)
            finally:
                mv.LOCAL_WRITE_BYTES = saved
            after = mv._load_manifest_full(path, mv.latest_version(path))
            wrote = _writers(path, before, after)
            assert wrote <= {"parquet-cpp-arrow" if side == "local" else "parquet-mr"}, (
                side, wrote)
        self.assert_same()

    def assert_same(self):
        loc, spk = self.paths["local"], self.paths["spark"]
        assert mv.latest_version(loc) == mv.latest_version(spk)
        for v in range(1, mv.latest_version(loc) + 1):
            if not mv._load_manifest_full(loc, v)["buckets"]:
                continue
            a = mv.read_bucket_table_versioned(self.spark, loc, v)
            b = mv.read_bucket_table_versioned(self.spark, spk, v)
            assert a.schema == b.schema, v
            assert sorted(a.collect(), key=repr) == sorted(b.collect(), key=repr), v
            ma, mb = (mv._load_manifest_full(p, v) for p in (loc, spk))
            assert sorted(ma["buckets"]) == sorted(mb["buckets"]), v


def _assert_prunes_same(spark, twins: Twins):
    """Stats the two writers both bound are equal, and every pruned
    scan returns the same rows. The local writer also bounds timestamp
    columns, which Spark writes as INT96 with no footer stats."""
    loc, spk = twins.paths["local"], twins.paths["spark"]
    sa = mv._load_manifest_full(loc, mv.latest_version(loc))["stats"]
    sb = mv._load_manifest_full(spk, mv.latest_version(spk))["stats"]
    assert sorted(sa) == sorted(sb)
    for i in sa:
        assert sa[i]["rows"] == sb[i]["rows"], i
        both = set(sa[i]["cols"]) & set(sb[i]["cols"])
        assert {"id", "n", "d"} <= both, (i, both)
        for c in both:
            assert sa[i]["cols"][c] == sb[i]["cols"][c], (i, c)
    for col, lo, hi in (
        ("n", 3, 9), ("id", "k05", "k12"), ("n", None, 0), ("n", 1000, None),
        ("d", datetime.date(1500, 1, 1), datetime.date(1500, 12, 31)),
        ("ts", INSTANTS[1], INSTANTS[1]), ("updated_at", T1, None),
    ):
        pa_, pb = (mv.prune_generations(p, col, lo, hi) for p in (loc, spk))
        if col in ("n", "id", "d"):
            assert (pa_["read"], pa_["skipped"]) == (pb["read"], pb["skipped"]), col
        else:
            assert set(pa_["read"]) <= set(pb["read"]), col
        a = mv.scan_versioned(spark, loc, col, lo, hi).collect()
        b = mv.scan_versioned(spark, spk, col, lo, hi).collect()
        assert sorted(a, key=repr) == sorted(b, key=repr), (col, lo, hi)


def _assert_spark_parquet_types(path: str) -> None:
    """Local-writer files are snappy and store TimestampType as INT64
    TIMESTAMP(MICROS, isAdjustedToUTC=true) and TimestampNTZType with
    isAdjustedToUTC=false, as Spark's writer does under
    TIMESTAMP_MICROS: never INT96, never NANOS."""
    full = mv._load_manifest_full(path, mv.latest_version(path))
    i, g = next(iter(full["buckets"].items()))
    md = pq.ParquetFile(mv._data_files(mv._gen_data_path(path, i, g))[0]).metadata
    cols = {md.schema.column(c).path: md.schema.column(c) for c in range(md.num_columns)}
    for name, utc in (("ts", "true"), ("ntz", "false"), ("meta.seen", "true")):
        assert cols[name].physical_type == "INT64", name
        lt = str(cols[name].logical_type)
        assert f"isAdjustedToUTC={utc}, timeUnit=microseconds" in lt, (name, lt)
    rg = md.row_group(0)
    assert {rg.column(c).compression for c in range(rg.num_columns)} == {"SNAPPY"}


def _keys_of_bucket(spark, keys, bucket: int) -> list[str]:
    return [k for k in keys if bucket_of_value(spark, k, N_BUCKETS) == bucket]


def test_local_writer_equals_spark_writer_cow_program(spark, tmp_path):
    """Initial load into an empty table, updates with a new column, a
    struct column whose non-nullable field sits under NULL structs, a
    rename, a bucket whose every row is deleted, then a reload that
    adds a nested field: both writers read the same at every version,
    and their stats prune the same."""
    keys = [f"k{i:02d}" for i in range(40)]
    tw = Twins(spark, tmp_path)
    for p in tw.paths.values():
        mv.init_bucket_table_versioned(p, key="id", n_buckets=N_BUCKETS)
    base = _feed(spark, tmp_path, "base", [_row(k, i) for i, k in enumerate(keys)], SCHEMA)
    tw.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))
    _assert_spark_parquet_types(tw.paths["local"])

    upd = _feed(spark, tmp_path, "upd", [
        Row(id=k, n=1000 + i, extra=f"e{i}") for i, k in enumerate(keys[::7])
    ], "id string, n long, extra string")
    tw.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=T1))

    # a nullable struct with a non-nullable field, NULL on most rows
    kev = base.select("id", F.when(F.col("n") % 3 == 0, F.struct(
        F.lit("2024-01-01").alias("dateAdded"))).alias("kev"))
    assert not kev.schema["kev"].dataType["dateAdded"].nullable
    tw.step(lambda p: mv.merge_scoped_versioned(spark, p, kev, now=T1))

    tw.step(lambda p: mv.alter_bucket_table_versioned(p, rename={"price": "amount"}))
    ren = _feed(spark, tmp_path, "ren", [
        (k, decimal.Decimal("7.77")) for k in keys[1:6]
    ], "id string, amount decimal(10,2)")
    tw.step(lambda p: mv.merge_scoped_versioned(spark, p, ren, now=T1))

    gone = _keys_of_bucket(spark, keys, 3)
    assert gone
    tombs = _feed(spark, tmp_path, "tombs", [(k, True) for k in gone] + [("k00", False)],
                  "id string, _deleted boolean")
    tw.step(lambda p: mv.merge_scoped_versioned(spark, p, tombs, deleted_col="_deleted", now=T1))
    for p in tw.paths.values():
        assert "3" not in mv._load_manifest_full(p, mv.latest_version(p))["buckets"]
    _assert_prunes_same(spark, tw)

    wider = StructType(SCHEMA.fields[:-1] + [StructField(
        "meta", StructType(META.fields + [StructField("kev", BooleanType())]))])
    rows = [_row(k, i)[:-1] + (Row(src="kev", seen=INSTANTS[i % 3], score=1.0, kev=True),)
            for i, k in enumerate(keys[:20])]
    reload = _feed(spark, tmp_path, "reload", rows, wider)
    tw.step(lambda p: mv.write_bucket_table_versioned(reload, p, key="id", n_buckets=N_BUCKETS))


def test_local_writer_equals_spark_writer_occ_and_mor(spark, tmp_path):
    """Optimistic-concurrency commits, merge-on-read deltas and a
    compaction that folds them."""
    keys = [f"k{i:02d}" for i in range(30)]
    tw = Twins(spark, tmp_path)
    base = _feed(spark, tmp_path, "base", [_row(k, i) for i, k in enumerate(keys)], SCHEMA)
    tw.step(lambda p: mv.write_bucket_table_versioned(base, p, key="id", n_buckets=N_BUCKETS))
    occ = _feed(spark, tmp_path, "occ", [(k, 500 + i) for i, k in enumerate(keys[::3])],
                "id string, n long")
    tw.step(lambda p: mv.merge_scoped_versioned_occ(spark, p, occ, now=T1))
    for j in range(2):
        mor = _feed(spark, tmp_path, f"mor{j}", [
            (k, 900 + j, INSTANTS[j]) for k in keys[j::4]
        ] + [(f"new{j}", 1, None)], "id string, n long, ts timestamp")
        tw.step(lambda p: mv.merge_scoped_versioned_mor(spark, p, mor, now=T1))
    assert mv._load_manifest_full(tw.paths["local"], mv.latest_version(tw.paths["local"]))["deltas"]
    tw.step(lambda p: mv.compact_versioned(spark, p))
    _assert_prunes_same(spark, tw)


def test_foreign_rows_raise_on_both_writers(spark, tmp_path):
    """A custom merger that emits a key outside the touched buckets
    raises the same RuntimeError on both writers and commits nothing."""
    keys = [f"k{i:02d}" for i in range(20)]
    batch_bucket = bucket_of_value(spark, "k01", N_BUCKETS)
    foreign = next(
        f"z{i}" for i in range(100)
        if bucket_of_value(spark, f"z{i}", N_BUCKETS) != batch_bucket
    )

    def bad_merger(cur, b):
        extra = spark.createDataFrame([Row(id=foreign, n=1)])
        return cur.unionByName(b, allowMissingColumns=True).unionByName(
            extra, allowMissingColumns=True)

    base = _feed(spark, tmp_path, "base", [(k, i) for i, k in enumerate(keys)], "id string, n long")
    one = _feed(spark, tmp_path, "one", [("k01", 99)], "id string, n long")
    for bound in (mv.LOCAL_WRITE_BYTES, 0):
        path = str(tmp_path / f"t{bound}")
        mv.write_bucket_table_versioned(base, path, key="id", n_buckets=N_BUCKETS)
        saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, bound
        try:
            with pytest.raises(RuntimeError, match="outside its touched buckets"):
                mv.merge_scoped_versioned(spark, path, one, merger=bad_merger)
        finally:
            mv.LOCAL_WRITE_BYTES = saved
        assert mv.latest_version(path) == 1
        assert not list(Path(path).glob(".stage-*"))


def test_no_estimate_keeps_the_spark_writer(spark, tmp_path):
    """A batch built from Python rows has no plan estimate (Spark
    reports Long.MaxValue), so its commit keeps the Spark writer."""
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=4)
    batch = spark.createDataFrame([Row(id=f"k{i}", n=i) for i in range(10)])
    assert mv._plan_bytes(batch) > mv.LOCAL_WRITE_BYTES
    mv.merge_scoped_versioned(spark, path, batch, now=T0)
    assert _writers(path, {"buckets": {}}, mv._load_manifest_full(path, 2)) == {"parquet-mr"}


# A small copy-on-write commit on a 16-bucket table: on the driver it is
# the batch's one toArrow() collect (its buckets give the touched set;
# the slice is read with pyarrow, merged in Arrow and written by the
# local writer). With the bound at 0 it is the touched-set distinct (2
# jobs) plus the Spark merge and writer's four stages.
COMMIT_JOBS_LOCAL = 1
COMMIT_JOBS_SPARK = 6
# A batch under the bound over a slice above it: the batch collect,
# then the Spark merge and writer with the collected touched set.
COMMIT_JOBS_BIG_SLICE = 5


def test_small_commit_job_counts(spark, tmp_path):
    rows = [(f"CVE-2024-{i:04d}", i, f"d{i}") for i in range(200)]
    base = _feed(spark, tmp_path, "base", rows, "id string, n long, desc string")
    small = _feed(spark, tmp_path, "small", [(f"CVE-2024-{i:04d}", -i, None) for i in range(0, 200, 9)],
                  "id string, n long, desc string")
    got = {}
    for name, bound in (("local", None), ("big_slice", mv._plan_bytes(small)), ("spark", 0)):
        path = str(tmp_path / name)
        mv.init_bucket_table_versioned(path, key="id", n_buckets=16)
        mv.merge_scoped_versioned(spark, path, base, now=T0)
        saved = mv.LOCAL_WRITE_BYTES
        mv.LOCAL_WRITE_BYTES = saved if bound is None else bound
        try:
            got[name] = _jobs(
                spark, f"commit-{name}",
                lambda: mv.merge_scoped_versioned(spark, path, small, now=T1),
            )
        finally:
            mv.LOCAL_WRITE_BYTES = saved
        assert mv._load_manifest_full(path, 3)["n_buckets"] == 16
    assert got == {
        "local": COMMIT_JOBS_LOCAL, "big_slice": COMMIT_JOBS_BIG_SLICE,
        "spark": COMMIT_JOBS_SPARK,
    }


# The same commit through optimistic concurrency with admission on: the
# batch collect gives the intent's buckets and feeds the driver merge.
OCC_COMMIT_JOBS_LOCAL = 1


def test_small_occ_commit_job_count(spark, tmp_path):
    rows = [(f"CVE-2024-{i:04d}", i, f"d{i}") for i in range(200)]
    base = _feed(spark, tmp_path, "base", rows, "id string, n long, desc string")
    small = _feed(spark, tmp_path, "small", [(f"CVE-2024-{i:04d}", -i, None) for i in range(0, 200, 9)],
                  "id string, n long, desc string")
    path = str(tmp_path / "occ")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=16)
    mv.merge_scoped_versioned(spark, path, base, now=T0)
    out = {}

    def commit():
        out.update(mv.merge_scoped_versioned_occ(spark, path, small, now=T1))

    assert _jobs(spark, "commit-occ", commit) == OCC_COMMIT_JOBS_LOCAL
    assert out["attempts"] == 1
    assert _writers(path, mv._load_manifest_full(path, 2), mv._load_manifest_full(path, 3)) == {
        "parquet-cpp-arrow"}


def test_local_write_bound_is_the_committed_crossover():
    """LOCAL_WRITE_BYTES is the largest slice size at which the local
    writer beat the Spark writer in WRITECROSSOVER.json, among the
    sizes whose collected slice fits the driver; the driver-side commit
    shares the bound, and beat both other forms at every size up to
    it. The driver-side change feed is gated on it too, because it beat
    the Spark diff at every measured feed whose two slices fit it."""
    art = json.loads(
        (Path(__file__).resolve().parents[1] / "WRITECROSSOVER.json").read_text()
    )
    wins = [
        1 << r["log2"] for r in art["rows"]
        if r["local_s"] < r["spark_s"] and r["fits_driver"]
    ]
    assert mv.LOCAL_WRITE_BYTES == art["local_write_bytes"] == max(wins)
    for r in art["rows"]:
        if 1 << r["log2"] <= mv.LOCAL_WRITE_BYTES:
            assert r["local_commit_s"] < min(r["local_s"], r["spark_s"]), r
    assert art["feed_bound"] == "LOCAL_WRITE_BYTES"
    feeds = [r for r in art["rows"] if r["feed_bytes"] <= mv.LOCAL_WRITE_BYTES]
    assert feeds
    for r in feeds:
        assert r["local_feed_s"] < r["spark_feed_s"], r


# py4j round trips of a warm point lookup and of a 6-row default
# copy-on-write commit into a 16-bucket table, measured at the commit
# before the driver-local paths shared one gate: the gate is pure
# driver code, so neither may grow.
LOOKUP_ROUND_TRIPS = 23
COMMIT_ROUND_TRIPS = 195


def test_lookup_and_commit_round_trip_ceilings(spark, tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from qtime import counted

    t0, t1 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
    schema = "id string, n long, desc string"
    base = _feed(spark, tmp_path, "base", [(f"CVE-2024-{i:04d}", i, f"d{i}") for i in range(300)], schema)
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=16)
    mv.merge_scoped_versioned(spark, path, base, now=t0)
    for k in ("CVE-2024-0007", "CVE-2024-0008"):  # warm
        mv.read_bucket_for_key_versioned(spark, path, k).collect()
    with counted(spark, "rt-lookup") as lookup:
        mv.read_bucket_for_key_versioned(spark, path, "CVE-2024-0011")
    warm = _feed(spark, tmp_path, "warm", [(f"CVE-2024-{i:04d}", -i, None) for i in range(1, 7)], schema)
    mv.merge_scoped_versioned(spark, path, warm, now=t1)
    small = _feed(spark, tmp_path, "small", [
        (f"CVE-2024-{i:04d}", -i, None) for i in (10, 40, 70, 100, 130, 400)], schema)
    with counted(spark, "rt-commit") as commit:
        mv.merge_scoped_versioned(spark, path, small, now=t1)
    assert (lookup["jobs"], commit["jobs"]) == (0, COMMIT_JOBS_LOCAL)
    assert lookup["round_trips"] <= LOOKUP_ROUND_TRIPS
    assert commit["round_trips"] <= COMMIT_ROUND_TRIPS
