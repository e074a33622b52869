"""The driver-local finish of point lookups: when a key's live
generation files total at most `LOCAL_READ_BYTES`,
`read_bucket_for_key_versioned` reads them with pyarrow and returns a
local relation. Law: that relation holds exactly the rows the Spark
read returns, across layouts, versions, merge-on-read deltas, deletion
vectors and schema evolution."""

from __future__ import annotations

import base64
import datetime
import decimal
import glob
import itertools
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cvemate_spark.operators import merge_versioned as mv
from cvemate_spark.operators.merge import bucket_of_value, merge_upsert
from test_point_lookup import _jobs

T0 = "2024-01-01 00:00:00"
T1 = "2024-02-01 00:00:00"
FAR = datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)  # past int64 nanos


def _row(k, i: int) -> Row:
    return Row(
        id=k,
        n=i,
        ts=datetime.datetime(2024, 3, 1, 12, 30, 45, 123456) if i % 3 else None,
        far=FAR,
        old=datetime.datetime(1000, 1, 1) if i % 2 else datetime.datetime(1960, 5, 5, 1, 2, 3),
        d=datetime.date(1500, 1, 31) if i % 2 else datetime.date(2024, 2, 29),
        price=decimal.Decimal(f"{i}.25"),
        tags={"a": i, "b": -i} if i % 2 else None,
        notes={"x": [Row(p=1.5)]} if i % 4 == 1 else {"y": []},
        refs=[Row(u=f"u{i}", w=[i, None])] if i % 3 else None,
        meta=Row(src="nvd", seen=datetime.datetime(2023, 1, 1), score=None),
    )


def _schema(key_type) -> StructType:
    return StructType([
        StructField("id", key_type),
        StructField("n", LongType()),
        StructField("ts", TimestampType()),
        StructField("far", TimestampType()),
        StructField("old", TimestampType()),
        StructField("d", DateType()),
        StructField("price", DecimalType(10, 2)),
        StructField("tags", MapType(StringType(), LongType())),
        StructField("notes", MapType(
            StringType(), ArrayType(StructType([StructField("p", DoubleType())])))),
        StructField("refs", ArrayType(StructType([
            StructField("u", StringType()), StructField("w", ArrayType(LongType()))]))),
        StructField("meta", StructType([
            StructField("src", StringType()),
            StructField("seen", TimestampType()),
            StructField("score", DoubleType()),
        ])),
    ])


def _write(spark, path: str, keys) -> None:
    key_type = StringType() if type(keys[0]) is str else LongType()
    base = spark.createDataFrame(
        [_row(k, i) for i, k in enumerate(keys)], _schema(key_type)
    )
    mv.write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )


# job-group names must be unique over the session: the status tracker
# keeps every earlier group's jobs, so a reused name (an `id()` of a
# freed object is reused) would count another lookup's jobs
_CALLS = itertools.count()


def _lookup(spark, path: str, value, bound: int, **kw):
    saved, mv.LOCAL_READ_BYTES = mv.LOCAL_READ_BYTES, bound
    try:
        out = {}
        n = next(_CALLS)
        jobs = _jobs(
            spark, f"lookup-local-{bound}-{n}",
            lambda: out.update(
                df=mv.read_bucket_for_key_versioned(spark, path, value, **kw)
            ),
        )
        df = out["df"]
        if df is None:
            return None, None, jobs
        rows = []
        jobs += _jobs(spark, f"collect-{bound}-{n}", lambda: rows.extend(df.collect()))
        return df.schema, sorted(rows, key=repr), jobs
    finally:
        mv.LOCAL_READ_BYTES = saved


def _assert_same(spark, path: str, values, **kw) -> list[int]:
    """Local and Spark lookups agree on schema and full rows for every
    value; returns the local lookups' job counts."""
    jobs = []
    for v in values:
        ls, lr, lj = _lookup(spark, path, v, 1 << 40, **kw)
        ss, sr, _ = _lookup(spark, path, v, 0, **kw)
        assert lr == sr, (v, lr, sr)
        assert ls == ss, (v, ls, ss)
        jobs.append(lj)
    return jobs


def test_local_equals_spark_str_keys(spark, tmp_path):
    """Str keys (hits and absent keys in and out of the footer bounds),
    every type family of `_row`. Every lookup runs 0 jobs."""
    path = str(tmp_path / "t")
    keys = [f"CVE-2024-{i:04d}" for i in range(60)]
    _write(spark, path, keys)
    jobs = _assert_same(
        spark, path, keys[:12] + ["CVE-2024-0030x", "AAA", "zzz"]
    )
    assert jobs == [0] * len(jobs)
    # instants outside the int64-nanosecond range and before 1970 keep
    # their value through both reads
    for k, old in ((keys[3], datetime.datetime(1000, 1, 1)),
                   (keys[4], datetime.datetime(1960, 5, 5, 1, 2, 3))):
        for bound in (0, 1 << 40):
            _, rows, _ = _lookup(spark, path, k, bound)
            assert (rows[0]["far"], rows[0]["old"]) == (FAR, old), (k, bound)


def _ask(schema: StructType, dirs: list[str], key: str, value):
    """The lookup gate's answer for `key` = `value` over the generation
    directories `dirs`, read under the committed `schema`."""
    return mv._slice_gate(
        "lookup", full={"schema": schema.jsonValue()}, key=key, value=value,
        gens=[(d, 0) for d in dirs],
    )


def _read(spark, schema: StructType, dirs: list[str], key: str, value):
    table, out = _ask(schema, dirs, key, value).read
    return spark.createDataFrame(table, out)


def test_pyarrow_int96_files_keep_the_spark_read(tmp_path):
    """A file pyarrow wrote with INT96 timestamps, which pyarrow
    mis-decodes before 1970: the gate leaves such files to Spark."""
    f = str(tmp_path / "part-0.parquet")
    pq.write_table(
        pa.table({"id": ["a"], "ts": pa.array([datetime.datetime(1960, 5, 5)], pa.timestamp("us"))}),
        f, use_deprecated_int96_timestamps=True,
    )
    schema = StructType([StructField("id", StringType()), StructField("ts", TimestampType())])
    assert _ask(schema, [str(tmp_path)], "id", "a").reason == "int96-file"


def test_local_equals_spark_int_keys_time_travel_and_new_column(spark, tmp_path):
    path = str(tmp_path / "t")
    keys = list(range(-20, 40))
    _write(spark, path, keys)
    mv.merge_scoped_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id=k, n=1000 + k, extra=f"e{k}") for k in (-3, 5, 17)]
        ),
        now=T1,
    )
    probes = [-3, 5, 17, 6, 0, 39, 2**40, -(2**63)]
    _assert_same(spark, path, probes)
    _assert_same(spark, path, probes, version=1)


def test_local_equals_spark_mor_deltas_and_dvs(spark, tmp_path):
    """Merge-on-read deltas over a base, deletion vectors at depth 0
    and at depth 2, and a re-insert above the deeper DV: the local
    read tags each layer with its ordinal and the ordinal fold runs
    unchanged."""
    path = str(tmp_path / "t")
    keys = [f"k{i}" for i in range(40)]
    _write(spark, path, keys)
    mv.merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="k1")]))
    for j, ks in enumerate((["k2", "k3", "k1"], ["k3", "k4"])):
        mv.merge_scoped_versioned_mor(
            spark, path,
            spark.createDataFrame([Row(id=k, n=100 * (j + 1)) for k in ks]),
            now=T1,
        )
    mv.merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="k3"), Row(id="k5")]))
    mv.merge_scoped_versioned_mor(
        spark, path, spark.createDataFrame([Row(id="k3", n=999)]), now=T1
    )
    full = mv._load_manifest_full(path, mv.latest_version(path))
    assert full.get("deltas") and full.get("dv")
    probes = ["k1", "k2", "k3", "k4", "k5", "k6", "k7", "nope"]
    _assert_same(spark, path, probes)
    for v in range(1, mv.latest_version(path)):
        _assert_same(spark, path, probes, version=v)


def _bucket_keys(spark, keys, bucket: int) -> list:
    from cvemate_spark.operators.merge import bucket_of_value

    return [k for k in keys if bucket_of_value(spark, k, 8) == bucket]


def test_mor_lookup_skips_the_fold_for_one_live_generation(spark, tmp_path):
    """A merge-on-read lookup whose footer stats and deletion vectors
    leave one live generation holding the key returns that row with no
    fold and no job: a key in the base only, in a delta only, and
    re-inserted above a DV. A key in the base and in a delta still
    folds (2 jobs). Each equals the Spark read, with the fold's column
    order."""
    from cvemate_spark.operators.merge import bucket_of_value

    path = str(tmp_path / "t")
    keys = [f"k{i:02d}" for i in range(40)]
    # no map with nested values: delta rows fill the missing columns
    # with NULLs, and a NULL such map keeps the Spark read (SPARK-48302)
    base = spark.createDataFrame(
        [_row(k, i) for i, k in enumerate(keys)], _schema(StringType())
    ).drop("notes")
    mv.write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    new = [f"n{i}" for i in range(8)]  # sorts above every base key
    mv.merge_scoped_versioned_mor(
        spark, path,
        spark.createDataFrame([Row(id=k, n=500) for k in ["k05"] + new]), now=T1,
    )
    mv.merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="k07")]))
    mv.merge_scoped_versioned_mor(
        spark, path, spark.createDataFrame([Row(id="k07", n=700)]), now=T1
    )
    full = mv._load_manifest_full(path, mv.latest_version(path))
    b07 = bucket_of_value(spark, "k07", 8)
    assert full["deltas"][str(b07)] and full["dv"][str(b07)]
    # a bucket whose deltas hold only new keys, above the base's range
    busy = {bucket_of_value(spark, k, 8) for k in ("k05", "k07")}
    quiet = next(
        b for b in map(int, full["deltas"])
        if b not in busy and _bucket_keys(spark, keys, b)
    )
    base_only = _bucket_keys(spark, keys, quiet)[0]
    delta_only = _bucket_keys(spark, new, quiet)[0]
    unfolded = [base_only, delta_only, "k07"]
    jobs = _assert_same(spark, path, unfolded + ["k05"])
    assert jobs == [0, 0, 0, MOR_FOLD_JOBS]
    schema, rows, _ = _lookup(spark, path, "k07", 1 << 40)
    assert schema.names[0] == "id" and "__ord" not in schema.names
    assert [(r["id"], r["n"]) for r in rows] == [("k07", 700)]


# the ordinal fold of a lookup whose key lives in two generations: an
# aggregate over the local relation, planned as two AQE stages
MOR_FOLD_JOBS = 2


def test_local_equals_spark_renamed_column(spark, tmp_path):
    path = str(tmp_path / "t")
    keys = [f"k{i}" for i in range(30)]
    _write(spark, path, keys)
    mv.alter_bucket_table_versioned(path, rename={"price": "amount", "meta": "info"})
    mv.merge_scoped_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id="k7", amount=decimal.Decimal("7.77"))], "id string, amount decimal(10,2)"
        ),
        now=T1,
    )
    _assert_same(spark, path, ["k7", "k8", "k9"])
    _assert_same(spark, path, ["k7", "k8"], version=1)


def test_legacy_key_bloom_table_equals_its_twin(spark, tmp_path):
    """Tables written while key blooms existed carry a "key_bloom"
    entry in their meta and a `_KEYBLOOM.json` sidecar in each
    generation dir. Both are ignored now: on such a table a merge,
    point lookups (a hit, an in-range miss and an out-of-range miss,
    driver and Spark read), a change feed, a compaction, a reload and
    a vacuum answer as on a twin without them. The reload drops the
    meta entry and the vacuum removes the sidecars with their
    generations. The sidecars hold no set bit, so a reader that still
    consulted them would miss every key."""
    schema = "id string, n long, ts timestamp"

    def frame(keys, n0):
        ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
        return merge_upsert(
            None, spark.createDataFrame([(k, n0 + i, ts) for i, k in enumerate(keys)], schema),
            now=T0,
        )

    legacy, twin = str(tmp_path / "legacy"), str(tmp_path / "twin")
    for p in (legacy, twin):
        mv.write_bucket_table_versioned(
            frame([f"k{i:03d}" for i in range(0, 200, 2)], 0), p, key="id", n_buckets=8
        )
    meta_path = os.path.join(legacy, "_BUCKETS")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["key_bloom"] = {"bits_per_key": 8, "k": 4}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    for i, g in mv._load_manifest_full(legacy, 1)["buckets"].items():
        with open(f"{legacy}/bucket={i}/{g}/_KEYBLOOM.json", "w") as f:
            json.dump({"m": 64, "k": 4, "bits_b64": base64.b64encode(bytes(8)).decode()}, f)

    def rows(df):
        return sorted(map(repr, df.collect()))

    def same(fn):
        a, b = fn(legacy), fn(twin)
        assert a == b
        return a

    batch = spark.createDataFrame([("k004", 7, None), ("k401", 8, None)], schema)
    same(lambda p: mv.merge_scoped_versioned(spark, p, batch, now=T1)["version"])
    for v in ("k004", "k010", "k401", "k011", "a", "zzz"):
        for bound in (1 << 40, 0):
            got = same(lambda p: _lookup(spark, p, v, bound)[:2])
            assert (got[1] is not None) == (v in ("k004", "k010", "k401")), v
    assert same(lambda p: rows(mv.change_feed(spark, p, 1)))
    all_buckets = sorted(int(i) for i in mv._load_manifest_full(twin, 2)["buckets"])
    same(lambda p: mv.compact_versioned(spark, p, buckets=all_buckets)["version"])
    same(lambda p: rows(mv.read_bucket_table_versioned(spark, p)))
    same(lambda p: mv.write_bucket_table_versioned(
        frame([f"r{i}" for i in range(20)], 100), p, key="id", n_buckets=8
    ))
    with open(meta_path) as f:
        assert "key_bloom" not in json.load(f)
    same(lambda p: sorted(mv.vacuum_bucket_versions(p, keep=1)["removed_versions"]))
    assert not glob.glob(f"{legacy}/bucket=*/*/_KEYBLOOM.json")
    assert same(lambda p: rows(mv.read_bucket_table_versioned(spark, p)))
    same(lambda p: _lookup(spark, p, "r3", 1 << 40)[:2])


def test_legacy_packed_entry_raises(spark, tmp_path):
    """A manifest entry of the removed packed layout
    ("@pg-<hex>/b<i>.parquet") is never read as a bucket directory: a
    full scan, a point lookup, a merge, a change feed and a vacuum each
    raise, and the vacuum removes nothing."""
    path = str(tmp_path / "t")
    keys = [f"k{i:02d}" for i in range(40)]
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)], "id string, n long")
    mv.write_bucket_table_versioned(df, path, key="id", n_buckets=8)
    mv.merge_scoped_versioned(spark, path, df.filter("n < 3"), now=T1)
    bucket = str(bucket_of_value(spark, "k00", 8))
    # every shard holding the bucket, in every version, names a pack file
    for f in glob.glob(f"{path}/_manifest/ms-*.json"):
        with open(f) as fh:
            shard = json.load(fh)
        if bucket in shard["buckets"]:
            shard["buckets"][bucket] = f"@pg-0123456789ab/b{bucket}.parquet"
            with open(f, "w") as fh:
                json.dump(shard, fh)
    mv._SHARD_CACHE.clear()
    before = sorted(os.listdir(path))
    legacy = pytest.raises(ValueError, match="removed packed layout.*rebuild the table from its source")
    with legacy:
        mv.read_bucket_table_versioned(spark, path).collect()
    with legacy:
        mv.read_bucket_for_key_versioned(spark, path, "k00").collect()
    with legacy:
        mv.merge_scoped_versioned(spark, path, df.filter("id = 'k00'"), now=T1)
    with legacy:
        mv.change_feed(spark, path, 1, 2).collect()
    with legacy:
        mv.vacuum_bucket_versions(path, keep=1)
    assert sorted(os.listdir(path)) == before
    assert mv.latest_version(path) == 2


def test_legacy_packed_base_meta_key_is_ignored(spark, tmp_path):
    """A `_BUCKETS` that still carries the removed "packed_base" and
    "pack_target_bytes" keys, on a table whose entries are all
    per-bucket generations, reads and merges as its twin without them;
    a reload drops the keys."""
    df = spark.createDataFrame([(f"k{i:02d}", i) for i in range(40)], "id string, n long")
    legacy, twin = str(tmp_path / "legacy"), str(tmp_path / "twin")
    for p in (legacy, twin):
        mv.write_bucket_table_versioned(df, p, key="id", n_buckets=8)
    meta_path = os.path.join(legacy, "_BUCKETS")
    with open(meta_path) as f:
        meta = json.load(f)
    with open(meta_path, "w") as f:
        json.dump({**meta, "packed_base": True, "pack_target_bytes": 0}, f)

    def same(fn):
        a, b = fn(legacy), fn(twin)
        assert a == b
        return a

    def rows(p, v=None):
        return sorted(map(repr, mv.read_bucket_table_versioned(spark, p, v).collect()))

    batch = spark.createDataFrame([("k03", 7), ("new", 8)], "id string, n long")
    assert same(lambda p: mv.merge_scoped_versioned(spark, p, batch, now=T1)["version"]) == 2
    assert same(rows)
    assert same(lambda p: _lookup(spark, p, "k03", 1 << 40)[:2])[1]
    same(lambda p: mv.write_bucket_table_versioned(df, p, key="id", n_buckets=256))
    with open(meta_path) as f:
        assert not {"packed_base", "pack_target_bytes"} & set(json.load(f))
    assert same(rows)
    # 256 buckets: per-bucket generation directories, as at any width
    entries = mv._load_manifest_full(legacy, 3)["buckets"]
    assert all(os.path.isdir(f"{legacy}/bucket={i}/{g}") for i, g in entries.items())


def test_local_equals_spark_in_another_session_time_zone(spark, tmp_path):
    """Timestamps leave the local read as UTC instants, so a session
    time zone other than UTC renders them exactly as the Spark read
    does."""
    path = str(tmp_path / "t")
    keys = [f"k{i}" for i in range(20)]
    _write(spark, path, keys)
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        _assert_same(spark, path, ["k1", "k2", "k4"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def _files_law(spark, tmp_path, tables: list[pa.Table], schema: StructType, key, values):
    """Spark's read of generation files under a committed schema
    (`_read_dirs`) equals the local read of the same files."""
    gdir = tmp_path / "g"
    gdir.mkdir()
    for i, t in enumerate(tables):
        pq.write_table(t, str(gdir / f"part-{i}.parquet"))
    schema_json = schema.jsonValue()
    for v in values:
        want = mv._read_dirs(spark, [str(gdir)], schema, schema_json).filter(
            F.col(key) == F.lit(v)
        )
        got = _read(spark, schema, [str(gdir)], key, v)
        assert got.schema == want.schema, v
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr), v


def test_conform_fills_missing_nested_fields_and_widens(spark, tmp_path):
    """A file written before a top-level column and a nested struct
    field existed, and with an int column the schema reads as long;
    the other file already has the new shape."""
    old = pa.table({
        "id": pa.array([1, 2, 3], pa.int32()),
        "s": pa.array([{"a": 1}, None, {"a": 3}], pa.struct([("a", pa.int32())])),
        "l": pa.array([[{"a": 1}], None, []], pa.list_(pa.struct([("a", pa.int32())]))),
    })
    new = pa.table({
        "id": pa.array([4, 2], pa.int64()),
        "s": pa.array([{"a": 4, "b": "x"}, {"a": 5, "b": None}],
                      pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "l": pa.array([[{"a": 4, "b": "y"}], [None]],
                      pa.list_(pa.struct([("a", pa.int32()), ("b", pa.string())]))),
        "added": pa.array(["p", "q"]),
    })
    ab = StructType([StructField("a", IntegerType()), StructField("b", StringType())])
    schema = StructType([
        StructField("id", LongType()),
        StructField("s", ab),
        StructField("l", ArrayType(ab)),
        StructField("added", StringType()),
    ])
    _files_law(spark, tmp_path, [old, new], schema, "id", [1, 2, 3, 4, 7])


def test_conform_reads_int96_timestamps_at_microseconds(spark, tmp_path):
    """INT96 (Spark's default timestamp encoding) past the int64
    nanosecond range reads as the same instant Spark reads."""
    path = str(tmp_path / "t")
    keys = [f"k{i}" for i in range(10)]
    _write(spark, path, keys)
    gdir = mv._gen_data_path(
        path, *next(iter(mv._load_manifest_full(path, 1)["buckets"].items()))
    )
    types = {
        pq.ParquetFile(f).metadata.schema.column(i).physical_type
        for f in mv._data_files(gdir)
        for i in range(pq.ParquetFile(f).metadata.num_columns)
    }
    assert "INT96" in types
    stored = mv._load_manifest_full(path, 1)["schema"]
    files = mv._data_files(gdir)
    k = pq.read_table(files[0], columns=["id"]).column(0)[0].as_py()
    got = _read(spark, StructType.fromJson(stored), [gdir], "id", k).collect()
    assert got[0]["far"] == FAR


def test_key_type_mismatch_keeps_spark_read(spark, tmp_path):
    """A value that Arrow cannot compare exactly with the key column
    (an int against a string key) leaves the read to Spark."""
    path = str(tmp_path / "t")
    _write(spark, path, [str(i) for i in range(20)])
    dirs = [
        mv._gen_data_path(path, *g)
        for g in mv._load_manifest_full(path, 1)["buckets"].items()
    ]
    schema = mv.table_schema(path)
    assert _ask(schema, dirs, "id", 5).reason == "key-type"
    assert _ask(schema, dirs, "id", True).reason == "key-type"
    ls, lr, lj = _lookup(spark, path, 5, 1 << 40)
    ss, sr, _ = _lookup(spark, path, 5, 0)
    assert lr == sr and lj >= 1


def test_local_read_bound_is_the_committed_crossover():
    """LOCAL_READ_BYTES is the largest generation size at which the
    local read beat the Spark read in LOOKUPCROSSOVER.json."""
    import json
    from pathlib import Path

    art = json.loads((Path(__file__).resolve().parents[1] / "LOOKUPCROSSOVER.json").read_text())
    wins = [1 << r["log2"] for r in art["rows"] if r["local_s"] < r["spark_s"]]
    assert mv.LOCAL_READ_BYTES == art["local_read_bytes"] == max(wins)
