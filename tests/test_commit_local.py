"""The driver-side commit of small copy-on-write upserts: when the batch's
plan estimate is at most `LOCAL_WRITE_BYTES`, `_prepare_scoped_merge`
collects it once with its buckets, and when the touched slice is small
and plain (classic generations, no deltas, no deletion vectors) it
reads the slice with pyarrow, upserts in Arrow (`merge_upsert_arrow`)
and writes the result with the local writer. Law: every commit gives
the rows, committed schema and manifest stats of the same commit with
the bound forced to 0 (the Spark merge and the Spark writer), at every
version.

Batches come from parquet files, as feeds do: a frame built from Python
rows has no plan estimate and always keeps the Spark merge."""

from __future__ import annotations

import datetime
import decimal
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

from cvemate_spark.operators import merge_versioned as mv
from cvemate_spark.operators.merge import bucket_of_value
from test_write_local import INSTANTS, SCHEMA, Twins, _feed, _row, gate_log, paths

T0 = "2024-01-01 00:00:00"
T1 = "2024-02-01 00:00:00"
N_BUCKETS = 8
KEYS = [f"k{i:02d}" for i in range(40)]


class Pair(Twins):
    """The twin tables of tests/test_write_local.py, plus the merge
    gate's record: `local` says whether the step's commit must take the
    driver-side merge (None: the step does not merge). The Spark twin's
    commit is refused as too large. Every committed version must also
    record the same schema and stats on both."""

    def __init__(self, spark, root: Path, caplog):
        super().__init__(spark, root)
        self.caplog = caplog
        gate_log(caplog)

    @property
    def took(self) -> list[bool]:
        return [t for t, _ in paths(self.caplog, "merge")]

    def step(self, fn, local: bool | None = True):
        took = {}

        def run(path):
            self.caplog.clear()
            fn(path)
            took[path] = paths(self.caplog, "merge")

        super().step(run)
        if local is None:
            assert took[self.paths["local"]] == took[self.paths["spark"]] == []
            return
        assert [t for t, _ in took[self.paths["local"]]] == [local]
        assert took[self.paths["spark"]] == [(False, "too-large")]

    def assert_same(self):
        super().assert_same()
        loc, spk = self.paths["local"], self.paths["spark"]
        for v in range(1, mv.latest_version(loc) + 1):
            ma, mb = (mv._load_manifest_full(p, v) for p in (loc, spk))
            assert ma.get("schema") == mb.get("schema"), v
            _assert_stats_same(ma.get("stats") or {}, mb.get("stats") or {}, v)


def _assert_stats_same(sa: dict, sb: dict, v: int) -> None:
    """Row counts and the column bounds both writers record. Spark's
    default INT96 timestamps carry no footer bounds, so a timestamp
    column is bounded on the local side only."""
    assert sorted(sa) == sorted(sb), v
    for i in sa:
        assert sa[i]["rows"] == sb[i]["rows"], (v, i)
        assert set(sb[i]["cols"]) <= set(sa[i]["cols"]), (v, i)
        for c in sb[i]["cols"]:
            assert sa[i]["cols"][c] == sb[i]["cols"][c], (v, i, c)


def _init(pair: Pair) -> None:
    for p in pair.paths.values():
        mv.init_bucket_table_versioned(p, key="id", n_buckets=N_BUCKETS)


def _bucket_of(spark, k) -> int:
    return bucket_of_value(spark, k, N_BUCKETS)


def test_local_commit_equals_spark_commit_wide_rows(spark, tmp_path, caplog):
    """The initial sync into an empty table, then upserts over struct,
    array and map columns with NULL elements, timestamps at 1000-01-01,
    1960-05-05 and 9999-12-31, NTZ and decimals; a struct column whose
    non-nullable field sits under NULL structs; a batch that adds a
    column; a renamed column."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [_row(k, i) for i, k in enumerate(KEYS)], SCHEMA)
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))

    # every column again, shifted so NULLs overwrite nothing and values
    # move between NULL and non-NULL
    upd = _feed(spark, tmp_path, "upd", [
        _row(k, i + 1) for i, k in enumerate(KEYS[::3])
    ] + [_row("new1", 7)], SCHEMA)
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=T1))

    kev = base.select("id", F.when(F.col("n") % 3 == 0, F.struct(
        F.lit("2024-01-01").alias("dateAdded"))).alias("kev"))
    assert not kev.schema["kev"].dataType["dateAdded"].nullable
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, kev, now=T1))

    extra = _feed(spark, tmp_path, "extra", [
        Row(id=k, n=1000 + i, extra=f"e{i}") for i, k in enumerate(KEYS[::7])
    ], "id string, n long, extra string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, extra, now=T1))

    pair.step(
        lambda p: mv.alter_bucket_table_versioned(p, rename={"price": "amount"}),
        local=None,
    )
    ren = _feed(spark, tmp_path, "ren", [
        (k, decimal.Decimal("7.77"), decimal.Decimal("-1.000001")) for k in KEYS[1:6]
    ], "id string, amount decimal(10,2), big decimal(38,6)")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, ren, now=T1))
    schema = mv.table_schema(pair.paths["local"])
    assert "amount" in schema.names and "price" not in schema.names


def test_local_commit_null_and_duplicate_keys(spark, tmp_path, caplog):
    """NULL keys in the batch and in the target match nothing, and a key
    repeated within the batch yields one row per batch row."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [(k, i, f"d{i}") for i, k in enumerate(KEYS)]
                 + [(None, -1, "null-target")], "id string, n long, d string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))
    batch = _feed(spark, tmp_path, "batch", [
        ("k01", 100, None), ("k01", 101, "dup"), ("k02", None, "x"),
        (None, 7, "null-batch"), (None, 8, None), ("new", 1, "n"),
    ], "id string, n long, d string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, batch, now=T1))
    rows = mv.read_bucket_table_versioned(spark, pair.paths["local"]).collect()
    assert sum(r["id"] is None for r in rows) == 3
    assert sorted(r["n"] for r in rows if r["id"] == "k01") == [100, 101]
    k02 = next(r for r in rows if r["id"] == "k02")
    assert (k02["n"], k02["d"]) == (2, "x")
    assert str(k02["created_at"]) < str(k02["updated_at"])


def test_local_commit_into_absent_buckets(spark, tmp_path, caplog):
    """A batch whose keys fall partly in buckets the manifest does not
    hold yet."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    held = [k for k in KEYS if _bucket_of(spark, k) in (0, 1, 2)]
    other = [k for k in KEYS if _bucket_of(spark, k) not in (0, 1, 2)]
    assert held and other
    base = _feed(spark, tmp_path, "base", [(k, 1) for k in held], "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))
    assert sorted(mv._load_manifest_full(pair.paths["local"], 2)["buckets"]) <= ["0", "1", "2"]
    mixed = _feed(spark, tmp_path, "mixed", [(k, 2, "x") for k in held[:2] + other],
                  "id string, n long, tag string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, mixed, now=T1))
    only_new = _feed(spark, tmp_path, "only_new", [(k + "z", 3) for k in other[:3]],
                     "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, only_new, now=T1))


@pytest.mark.parametrize("now", [
    datetime.datetime(2024, 2, 1, 8, 30, 15, 123456),
    datetime.datetime(2024, 2, 1, 8, 30, tzinfo=datetime.timezone(datetime.timedelta(hours=5))),
], ids=["naive", "aware"])
def test_local_commit_now_datetimes(spark, tmp_path, caplog, now):
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [(k, i) for i, k in enumerate(KEYS)], "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=now))
    upd = _feed(spark, tmp_path, "upd", [(k, -1) for k in KEYS[::5]] + [("new", 0)],
                "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=now))


def test_local_commit_now_none_stamps_the_call(spark, tmp_path, caplog):
    """With no `now`, new rows get created_at == updated_at, an instant
    inside the call; matched rows keep created_at and get the same
    updated_at; untouched rows keep both."""
    pair = Pair(spark, tmp_path, caplog)
    path = pair.paths["local"]
    mv.init_bucket_table_versioned(path, key="id", n_buckets=N_BUCKETS)
    base = _feed(spark, tmp_path, "base", [(k, i) for i, k in enumerate(KEYS)], "id string, n long")
    mv.merge_scoped_versioned(spark, path, base, now=T0)
    upd = _feed(spark, tmp_path, "upd", [("k03", -3), ("new", 0)], "id string, n long")
    t0 = datetime.datetime.now(datetime.timezone.utc)
    mv.merge_scoped_versioned(spark, path, upd)
    t1 = datetime.datetime.now(datetime.timezone.utc)
    assert pair.took == [True, True]
    rows = {r["id"]: r for r in mv.read_bucket_table_versioned(spark, path).collect()}
    new, hit = rows["new"], rows["k03"]
    stamp = new["created_at"].astimezone(datetime.timezone.utc)
    assert new["created_at"] == new["updated_at"]
    assert t0 <= stamp <= t1
    assert hit["updated_at"] == new["updated_at"] and hit["n"] == -3
    assert str(hit["created_at"]) == T0
    untouched = [r for k, r in rows.items() if k not in ("new", "k03")]
    assert {(str(r["created_at"]), str(r["updated_at"])) for r in untouched} == {(T0, T0)}


def test_int_batch_key_against_long_column_takes_spark_merge(spark, tmp_path, caplog):
    """An int batch key against a long key column: Spark widens the key
    in its join, so the commit keeps the Spark merge."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [(i, f"v{i}") for i in range(30)], "id long, v string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))
    narrow = _feed(spark, tmp_path, "narrow", [(i, f"w{i}") for i in range(0, 40, 4)],
                   "id int, v string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, narrow, now=T1), local=False)
    wide = _feed(spark, tmp_path, "wide", [(i, None) for i in range(0, 40, 3)], "id long, v string")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, wide, now=T1))


def test_local_commit_occ(spark, tmp_path, caplog):
    """An optimistic-concurrency commit takes the driver-side merge too,
    its touched set from the admission intent."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [_row(k, i) for i, k in enumerate(KEYS)], SCHEMA)
    pair.step(lambda p: mv.merge_scoped_versioned_occ(spark, p, base, now=T0))
    occ = _feed(spark, tmp_path, "occ", [(k, 500 + i, INSTANTS[i % 3]) for i, k in enumerate(KEYS[::3])],
                "id string, n long, ts timestamp")
    pair.step(lambda p: mv.merge_scoped_versioned_occ(spark, p, occ, now=T1))
    out = mv.merge_scoped_versioned_occ(spark, pair.paths["local"], occ, now=T1)
    assert (out["attempts"], out["rebased"]) == (1, False)


def test_mor_and_dv_slices_keep_spark_merge(spark, tmp_path, caplog):
    """A slice with merge-on-read deltas or deletion vectors keeps the
    Spark merge; a plain slice after a compaction takes the local one."""
    pair = Pair(spark, tmp_path, caplog)
    _init(pair)
    base = _feed(spark, tmp_path, "base", [(k, i) for i, k in enumerate(KEYS)], "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, base, now=T0))
    mor = _feed(spark, tmp_path, "mor", [(k, 9) for k in KEYS[::2]], "id string, n long")
    for p in pair.paths.values():
        mv.merge_scoped_versioned_mor(spark, p, mor, now=T1)
    upd = _feed(spark, tmp_path, "upd", [(k, -1) for k in KEYS], "id string, n long")
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=T1), local=False)
    dels = _feed(spark, tmp_path, "dels", [(k,) for k in KEYS[1::4]], "id string")
    for p in pair.paths.values():
        mv.merge_deletes_dv(spark, p, dels)
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=T1), local=False)
    for p in pair.paths.values():
        mv.compact_versioned(spark, p)
    pair.step(lambda p: mv.merge_scoped_versioned(spark, p, upd, now=T1))


def test_now_micros_memoizes_spark_cast(spark, monkeypatch):
    """A string `now` is cast by Spark once per (session time zone,
    literal): a repeat builds no frame, and another session time zone
    gives its own stamp."""
    from cvemate_spark.operators.merge import now_micros

    lit = "2023-03-04 05:06:07"
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = now_micros(spark, lit)
        assert utc == int(datetime.datetime(2023, 3, 4, 5, 6, 7, tzinfo=datetime.timezone.utc)
                          .timestamp()) * 10**6

        def no_frames(*a, **kw):
            raise AssertionError("a memoized cast built a frame")

        with monkeypatch.context() as m:
            m.setattr(spark, "createDataFrame", no_frames)
            assert now_micros(spark, lit) == utc
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        assert utc - now_micros(spark, lit) == (5 * 3600 + 1800) * 10**6
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_upsert_schema_rule_equals_spark_analysis(spark):
    """Law: the driver-side merge's type rule (`_upsert_schema`) gives
    exactly the schema Spark's analysis of `merge_upsert` gives, or
    refuses exactly where some input column's type differs from the
    output column it feeds, over key and column type pairs (int/long,
    float/double, decimal precisions, strings, nested structs and
    arrays, nested nullability), columns on one side only, audit columns
    present or not, renamed columns' field metadata, string/datetime/None
    `now` and an empty slice."""
    from pyspark.sql.types import (
        ArrayType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
        StringType, StructField, StructType, TimestampNTZType, TimestampType,
    )

    from cvemate_spark.operators.merge import AUDIT_COLS, merge_upsert

    def st(t, nullable=True):
        return StructType([StructField("p", t, nullable), StructField("q", StringType())])

    pairs = [
        (IntegerType(), LongType()), (LongType(), IntegerType()), (LongType(), LongType()),
        (FloatType(), DoubleType()), (DoubleType(), FloatType()), (DoubleType(), DoubleType()),
        (DecimalType(10, 2), DecimalType(12, 2)), (DecimalType(12, 4), DecimalType(10, 2)),
        (DecimalType(10, 2), DecimalType(10, 2)), (StringType(), StringType()),
        (st(IntegerType()), st(LongType())), (st(LongType()), st(LongType(), False)),
        (ArrayType(IntegerType()), ArrayType(LongType())),
        (ArrayType(st(LongType())), ArrayType(st(LongType(), False), False)),
    ]
    keys = [(StringType(), StringType()), (LongType(), LongType()), (LongType(), IntegerType()),
            (IntegerType(), LongType())]
    nows = ["2024-02-01 00:00:00", datetime.datetime(2024, 2, 1), None]
    audits = [
        [StructField("created_at", TimestampType()), StructField("updated_at", TimestampType())],
        [], [StructField("created_at", TimestampNTZType())],
    ]
    checked = 0
    for (kt, ku), (ct, cu), now, audit in [
        (k, c, n, a) for k in keys for c in pairs for n in nows for a in audits
    ][::2]:
        t_fields = [
            StructField("id", kt, True, {"k": 1}), StructField("c", ct, True, {"phys": "c0"}),
            StructField("t_only", st(IntegerType()), True, {"phys": "t0"}),
        ] + audit
        target = mv._slice_fields(StructType(t_fields))
        batch = StructType([
            StructField("id", ku, False, {"k": 2}),
            StructField("u_only", ArrayType(st(LongType(), False)), True, {"u": 1}),
            StructField("c", cu, False, {"c": 1}), StructField("created_at", StringType()),
        ])
        for fields in (target, []):
            stub = spark.createDataFrame([], StructType(fields)) if fields else None
            out = merge_upsert(stub, spark.createDataFrame([], batch), key="id", now=now).schema
            want = {f.name: mv._type_fingerprint(f.dataType.jsonValue()) for f in out}
            widened = any(
                mv._type_fingerprint(f.dataType.jsonValue()) != want[f.name]
                for f in fields + [f for f in batch.fields if f.name not in AUDIT_COLS]
            )
            got = mv._upsert_schema(fields, batch, "id", now)
            case = (kt, ku, ct, cu, now, audit, bool(fields))
            assert (got is None) == widened, case
            if got is not None:
                assert got.jsonValue() == out.jsonValue(), case
            checked += 1
    assert checked > 200
