"""Small change feeds diff on the driver: when both versions' changed
buckets are plain classic generations under one schema without maps and
their committed bytes fit the bound, `change_feed` reads them with
pyarrow and diffs them with `merge.table_diff_arrow`. Law: every such
feed gives the rows and schema of the same feed with the bound forced to
0 (the Spark full-outer diff), and applying it to the old snapshot
(`apply_change_feed`) gives what applying the Spark feed gives, which
is the new snapshot under `change_feed`'s key contract. The gate's
debug record says which path each feed took."""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
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
from test_write_local import INSTANTS, _feed, gate_log, paths

T0 = "2024-01-01 00:00:00"
T1 = "2024-02-01 00:00:00"
N_BUCKETS = 8

META = StructType([
    StructField("src", StringType()),
    StructField("seen", TimestampType()),
    StructField("score", DoubleType()),
])
SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("n", LongType()),
    StructField("x", DoubleType()),
    StructField("ts", TimestampType()),
    StructField("ntz", TimestampNTZType()),
    StructField("d", DateType()),
    StructField("price", DecimalType(10, 2)),
    StructField("big", DecimalType(38, 6)),
    StructField("refs", ArrayType(StructType([
        StructField("u", StringType()), StructField("w", ArrayType(LongType()))]))),
    StructField("blob", BinaryType()),
    StructField("meta", META),
])


def _row(k, i: int, **over) -> tuple:
    ts = INSTANTS[i % 3]
    r = {
        "id": k,
        "n": i,
        "x": float(i) / 4,
        "ts": ts if i % 4 else None,
        "ntz": ts.replace(microsecond=0),
        "d": datetime.date(1500, 1, 31) if i % 2 else datetime.date(1582, 10, 4 + i % 11),
        "price": decimal.Decimal(f"{i}.25"),
        "big": decimal.Decimal(f"{10**31 + i}.123456") * (-1 if i % 2 else 1),
        "refs": [Row(u=f"u{i}", w=[i, None])] if i % 3 else None,
        "blob": bytes([i % 256, 0, 255]) if i % 5 else None,
        "meta": Row(src="nvd", seen=INSTANTS[(i + 1) % 3], score=None if i % 2 else i / 3),
    }
    r.update(over)
    return tuple(r[f.name] for f in SCHEMA.fields)


class Feeds:
    """Feeds of one table, each computed twice: with the bound as
    committed and with it at 0. The feed gate's record says which path
    each took."""

    def __init__(self, spark, caplog):
        self.spark = spark
        self.caplog = caplog
        gate_log(caplog)

    @property
    def took(self) -> list[bool]:
        return [t for t, _ in paths(self.caplog, "feed")]

    def pair(self, path: str, a: int, b: int, key=None):
        self.caplog.clear()
        got = mv.change_feed(self.spark, path, a, b, key=key)
        saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, 0
        try:
            want = mv.change_feed(self.spark, path, a, b, key=key)
        finally:
            mv.LOCAL_WRITE_BYTES = saved
        return got, want, self.took

    def check(self, path: str, a: int, b: int, key="id", local=True, exact=True):
        """The feed a -> b equals the Spark feed; `local` is whether the
        driver path must run, `exact` whether the apply law must give
        the new snapshot (keys unique and non-NULL)."""
        got, want, took = self.pair(path, a, b, key=key)
        # the Spark feed asks the gate too and must be refused
        assert took == [local, False], took
        assert got.schema == want.schema
        rows = _canon(got.collect())
        assert rows == _canon(want.collect())
        keys = [key] if isinstance(key, str) else key
        old = mv.read_bucket_table_versioned(self.spark, path, a)
        new = mv.read_bucket_table_versioned(self.spark, path, b)
        applied = _canon(mv.apply_change_feed(old, got, keys).select(*new.columns).collect())
        assert applied == _canon(mv.apply_change_feed(old, want, keys).select(*new.columns).collect())
        if exact:
            assert applied == _canon(new.collect())
        return got.collect()


def _canon(rows) -> list[str]:
    # repr: a NaN never equals itself, and -0.0 must not pass for 0.0
    return sorted(map(repr, rows))


def _reload(spark, path, rows, schema=SCHEMA, **kw) -> int:
    df = spark.createDataFrame(rows, schema)
    return mv.write_bucket_table_versioned(df, path, key=kw.pop("key", "id"), n_buckets=N_BUCKETS, **kw)


def _keys_of_bucket(spark, keys, bucket: int) -> list[str]:
    return [k for k in keys if bucket_of_value(spark, k, N_BUCKETS) == bucket]


KEYS = [f"k{i:02d}" for i in range(40)]


def test_feed_local_inserts_updates_deletes_and_vanished_bucket(spark, tmp_path, caplog):
    """Upserts, tombstone deletes and a bucket whose every row is deleted,
    over parquet-fed commits (pyarrow-written generations) on top of a
    Spark-written base; feeds over one commit and over the whole span."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=N_BUCKETS)
    base = spark.createDataFrame([_row(k, i) for i, k in enumerate(KEYS)], SCHEMA)
    mv.merge_scoped_versioned(spark, path, base, now=T0)
    upd = _feed(spark, tmp_path, "upd", [
        _row(k, i + 1) for i, k in enumerate(KEYS[::3])
    ] + [_row("new1", 7)], SCHEMA)
    mv.merge_scoped_versioned(spark, path, upd, now=T1)
    gone = _keys_of_bucket(spark, KEYS, 3)
    assert gone
    tombs = _feed(spark, tmp_path, "tombs", [(k, True) for k in gone + ["k01"]],
                  "id string, _deleted boolean")
    mv.merge_scoped_versioned(spark, path, tombs, deleted_col="_deleted", now=T1)
    assert "3" not in mv._load_manifest_full(path, 4)["buckets"]
    rows = fd.check(path, 2, 3)
    assert {r["change"] for r in rows} == {"insert", "update"}
    rows = fd.check(path, 3, 4)
    assert {r["change"] for r in rows} == {"delete"} and len(rows) == len(gone) + 1
    fd.check(path, 2, 4)


def test_feed_local_null_and_duplicate_keys(spark, tmp_path, caplog):
    """NULL keys on one side and on both are matched by the whole row:
    a new one is an insert with its own payload, an unchanged one is
    not in the feed, and the apply law holds. Keys repeated within a
    side give the rows `table_diff` emits for them."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    v1 = _reload(spark, path, [_row(k, i) for i, k in enumerate(KEYS[:20])])
    v2 = _reload(spark, path, [_row(k, i) for i, k in enumerate(KEYS[:20])]
                 + [_row(None, 50)])
    v3 = _reload(spark, path, [_row(k, i) for i, k in enumerate(KEYS[:20])]
                 + [_row(None, 50), _row(None, 51)])
    v4 = _reload(spark, path, [_row(k, i) for i, k in enumerate(KEYS[:20])]
                 + [_row("k03", 60), _row("k03", 3), _row("k04", 61)])
    rows = fd.check(path, v1, v2)
    assert [(r["id"], r["change"]) for r in rows] == [(None, "insert")]
    assert rows[0]["n"] == 50
    rows = fd.check(path, v2, v3)
    assert [(r["id"], r["n"], r["change"]) for r in rows] == [(None, 51, "insert")]
    # not exact: v4 holds k03 three times and k04 twice, and the apply
    # law needs non-NULL keys unique per version
    fd.check(path, v3, v4, exact=False)
    fd.check(path, v4, v1, exact=False)


def test_feed_local_composite_key_with_null_part(spark, tmp_path, caplog):
    """A composite key whose non-first part is NULL is matched by the
    whole row: unchanged, it is not in the feed; new, it is an insert."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    schema = "id string, sub long, v string"
    v1 = _reload(spark, path, [(k, j, f"a{j}") for k in KEYS[:10] for j in range(2)]
                 + [("k00", None, "n0")], schema)
    v2 = _reload(spark, path, [(k, j, f"a{j}" if k != "k05" else "z") for k in KEYS[:10] for j in range(2)]
                 + [("k00", None, "n0"), ("k01", None, "n1")], schema)
    rows = fd.check(path, v1, v2, key=["id", "sub"])
    got = sorted((r["id"], r["sub"], r["change"]) for r in rows)
    assert not [g for g in got if g[:2] == ("k00", None)]
    assert ("k05", 0, "update") in got and ("k01", None, "insert") in got
    rows = fd.check(path, v2, v1, key=["id", "sub"])
    assert ("k01", None, "delete") in [(r["id"], r["sub"], r["change"]) for r in rows]


def test_feed_local_nested_and_edge_values(spark, tmp_path, caplog):
    """Struct and array columns with NULL elements, a NULL struct against
    a struct of NULLs, NaN, -0.0, timestamps at 1000-01-01, 1960-05-05
    and 9999-12-31, NTZ, decimals and binary: only real differences
    are updates, and the payload is the new side's."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    nulls = Row(src=None, seen=None, score=None)
    old = {
        "k00": dict(meta=None),
        "k01": dict(meta=nulls),
        "k02": dict(refs=[Row(u=None, w=[1, None])]),
        "k03": dict(refs=[Row(u="a", w=[None])]),
        "k04": dict(refs=[None, Row(u="b", w=[])]),
        "k05": dict(x=float("nan")),
        "k06": dict(x=0.0),
        "k07": dict(x=float("nan"), n=1),
        "k08": dict(ts=INSTANTS[0], ntz=INSTANTS[1], blob=b"\x00"),
        "k09": dict(big=decimal.Decimal("1.000001"), price=decimal.Decimal("0.10")),
        "k10": dict(refs=[]),
        "k11": dict(meta=Row(src="a", seen=INSTANTS[2], score=float("nan"))),
    }
    new = {
        "k00": dict(meta=nulls),  # NULL struct -> struct of NULLs: update
        "k01": dict(meta=nulls),  # same
        "k02": dict(refs=[Row(u=None, w=[1, None])]),  # same
        "k03": dict(refs=[Row(u="a", w=[None, None])]),  # longer inner list
        "k04": dict(refs=[Row(u=None, w=None), Row(u="b", w=[])]),  # NULL element -> struct
        "k05": dict(x=float("nan")),  # NaN equals NaN
        "k06": dict(x=-0.0),  # -0.0 equals 0.0
        "k07": dict(x=-0.0, n=2),  # update: payload carries -0.0
        "k08": dict(ts=INSTANTS[2], ntz=INSTANTS[1], blob=b"\x00\x00"),
        "k09": dict(big=decimal.Decimal("1.000002"), price=decimal.Decimal("0.10")),
        "k10": dict(refs=None),
        "k11": dict(meta=Row(src="a", seen=INSTANTS[2], score=float("nan"))),
    }
    v1 = _reload(spark, path, [_row(k, 9, **old[k]) for k in sorted(old)])
    v2 = _reload(spark, path, [_row(k, 9, **new[k]) for k in sorted(new)])
    # not exact: k06's new -0.0 equals its old 0.0, so no feed carries it
    rows = fd.check(path, v1, v2, exact=False)
    assert sorted(r["id"] for r in rows) == ["k00", "k03", "k04", "k07", "k08", "k09", "k10"]
    assert {r["change"] for r in rows} == {"update"}
    k07 = next(r for r in rows if r["id"] == "k07")
    assert k07["n"] == 2 and math.copysign(1.0, k07["x"]) == -1.0
    # not exact: k06's old -0.0 equals its new 0.0 the other way round
    fd.check(path, v2, v1, exact=False)


def test_feed_local_renamed_column(spark, tmp_path, caplog):
    """A rename before the span keeps the driver path (the files store
    the physical name); a rename inside it takes the Spark diff, which
    diffs the old name under the new one, and applying that feed
    renames the replica's column."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=N_BUCKETS)
    base = _feed(spark, tmp_path, "base", [(k, i, decimal.Decimal(i)) for i, k in enumerate(KEYS)],
                 "id string, n long, price decimal(10,2)")
    v1 = mv.merge_scoped_versioned(spark, path, base, now=T0)["version"]
    v2 = mv.alter_bucket_table_versioned(path, rename={"price": "amount"})["version"]
    ren = _feed(spark, tmp_path, "ren", [(k, decimal.Decimal("7.77")) for k in KEYS[1:6]],
                "id string, amount decimal(10,2)")
    v3 = mv.merge_scoped_versioned(spark, path, ren, now=T1)["version"]
    assert mv._phys_map(mv._load_manifest_full(path, v3)["schema"]) == {"amount": "price"}
    rows = fd.check(path, v2, v3)
    assert {r["amount"] for r in rows} == {decimal.Decimal("7.77")}
    rows = fd.check(path, v1, v3, local=False)
    assert {r["amount"] for r in rows} == {decimal.Decimal("7.77")}
    assert "price" not in rows[0]


def test_feed_spark_paths(spark, tmp_path, caplog):
    """An added column, a merge-on-read delta and a deletion-vector
    delete keep the Spark diff; so does a map column, top-level or
    inside a struct, which the Spark diff compares by its sorted
    entries: a map whose entries only changed order is unchanged."""
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=N_BUCKETS)
    base = _feed(spark, tmp_path, "base", [(k, i) for i, k in enumerate(KEYS)], "id string, n long")
    v1 = mv.merge_scoped_versioned(spark, path, base, now=T0)["version"]
    extra = _feed(spark, tmp_path, "extra", [(k, i, f"e{i}") for i, k in enumerate(KEYS[::5])],
                  "id string, n long, tag string")
    v2 = mv.merge_scoped_versioned(spark, path, extra, now=T1)["version"]
    fd.check(path, v1, v2, local=False)
    mor = _feed(spark, tmp_path, "mor", [(k, -1) for k in KEYS[::4]], "id string, n long")
    v3 = mv.merge_scoped_versioned_mor(spark, path, mor, now=T1)["version"]
    fd.check(path, v2, v3, local=False)
    v4 = mv.compact_versioned(spark, path)["version"]
    fd.check(path, v3, v4, local=False)
    v5 = mv.merge_deletes_dv(spark, path, spark.createDataFrame([("k02",), ("k09",)], "id string"))["version"]
    fd.check(path, v4, v5, local=False)
    upd = _feed(spark, tmp_path, "upd", [(k, 5) for k in KEYS[10:20]], "id string, n long")
    v6 = mv.merge_scoped_versioned(spark, path, upd, now=T1)["version"]
    fd.check(path, v5, v6, local=False)  # the old side still holds DV refs
    v7 = mv.merge_scoped_versioned(spark, path, upd.withColumn("n", upd["n"] + 1), now=T1)["version"]
    fd.check(path, v6, v7)

    maps = str(tmp_path / "maps")
    info = StructType([StructField("src", StringType()),
                       StructField("kv", MapType(StringType(), ArrayType(LongType())))])
    schema = StructType([StructField("id", StringType()),
                         StructField("tags", MapType(StringType(), LongType())),
                         StructField("info", info)])
    old = {k: (k, {"a": 1, "b": i}, ("nvd", {"x": [i], "y": None})) for i, k in enumerate(KEYS[:10])}
    old["k07"] = ("k07", None, (None, None))
    new = dict(old)
    new["k00"] = ("k00", {"a": 2, "b": 0}, old["k00"][2])         # top-level value
    new["k01"] = ("k01", {"b": 1, "a": 1}, old["k01"][2])         # entry order only
    new["k02"] = ("k02", old["k02"][1], ("nvd", {"x": [2, 2], "y": None}))  # nested value
    new["k03"] = ("k03", old["k03"][1], ("nvd", {"y": None, "x": [3]}))     # nested order only
    new["k04"] = ("k04", None, old["k04"][2])                     # map to NULL
    new["k05"] = ("k05", old["k05"][1], None)                     # struct to NULL
    new["k07"] = ("k07", None, None)                              # all-NULL struct to NULL
    del new["k06"]
    new["k99"] = ("k99", {}, ("kev", {}))
    m1 = _reload(spark, maps, list(old.values()), schema)
    m2 = _reload(spark, maps, list(new.values()), schema)
    rows = fd.check(maps, m1, m2, local=False)
    assert sorted((r["id"], r["change"]) for r in rows) == [
        ("k00", "update"), ("k02", "update"), ("k04", "update"), ("k05", "update"),
        ("k06", "delete"), ("k07", "update"), ("k99", "insert"),
    ]


def test_up_to_date_consumer_gets_none(spark, tmp_path, caplog):
    fd = Feeds(spark, caplog)
    path = str(tmp_path / "t")
    v = _reload(spark, path, [_row(k, i) for i, k in enumerate(KEYS[:10])])
    assert mv.change_feed(spark, path, v, v) is None
    assert fd.took == []


# The analyst-shaped feed (a 16-bucket table, one commit of a few rows)
# plus its consumer's `groupBy("change").count().collect()`: on the
# driver the feed is a local relation and the aggregate runs its 2 jobs;
# the Spark diff adds the full-outer join's 2 shuffle-map stages.
FEED_JOBS_LOCAL = 2
FEED_JOBS_SPARK = 4


def test_feed_job_counts(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(f"CVE-2024-{i:04d}", i, f"d{i}") for i in range(300)]
    base = _feed(spark, tmp_path, "base", rows, "id string, n long, desc string")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=16)
    mv.merge_scoped_versioned(spark, path, base, now=T0)
    night = _feed(spark, tmp_path, "night", [(f"CVE-2024-{i:04d}", -i, None) for i in range(0, 330, 11)],
                  "id string, n long, desc string")
    v = mv.merge_scoped_versioned(spark, path, night, now=T1)["version"]

    def pull():
        return mv.change_feed(spark, path, v - 1, v).groupBy("change").count().collect()

    got = {}
    for name, bound in (("local", mv.LOCAL_WRITE_BYTES), ("spark", 0)):
        saved, mv.LOCAL_WRITE_BYTES = mv.LOCAL_WRITE_BYTES, bound
        try:
            pull()  # warm
            got[name] = _jobs(spark, f"feed-{name}", pull)
        finally:
            mv.LOCAL_WRITE_BYTES = saved
    assert got == {"local": FEED_JOBS_LOCAL, "spark": FEED_JOBS_SPARK}
