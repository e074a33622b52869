"""The refusal walk of `merge_versioned._slice_gate`, the one decision of
every driver-local path (point lookups, small copy-on-write commits,
small change feeds, small writes). Every refusal reason is provoked on
every surface it applies to, and each case checks two things: the
debug record names that reason, and the rows the Spark path gives equal
the rows the driver path gives once the input is made eligible (the
bound raised, the layout compacted, a twin table without the offending
column or file encoding)."""

from __future__ import annotations

import contextlib
import datetime

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cvemate_spark.operators import merge_versioned as mv
from cvemate_spark.operators.merge import merge_upsert
from test_write_local import _feed, gate_log, paths

T0 = datetime.datetime(2024, 1, 1)
T1 = datetime.datetime(2024, 2, 1)
N = 4
KEYS = [f"k{i:02d}" for i in range(20)]
BASE = "id string, n long, d string"


def _canon(rows) -> list:
    # by name, whatever the column order; twins may type a key as
    # double on one side and long on the other (1.0 == 1)
    return sorted((sorted(r.asDict().items()) for r in rows), key=repr)


class Walk:
    """Tables under one tmp dir, and the surfaces' calls returning rows."""

    def __init__(self, spark, tmp_path, monkeypatch):
        self.spark, self.root, self.mp = spark, tmp_path, monkeypatch
        self.n = 0

    def rows(self, schema=BASE, make=None):
        make = make or (lambda i, k: (k, i, f"d{i}"))
        self.n += 1
        return _feed(self.spark, self.root, f"f{self.n}",
                     [make(i, k) for i, k in enumerate(KEYS)], schema)

    def table(self, base=None, key="id") -> str:
        """A table loaded by a default upsert from parquet (pyarrow-written
        generations)."""
        self.n += 1
        path = str(self.root / f"t{self.n}")
        base = self.rows() if base is None else base
        mv.init_bucket_table_versioned(path, key=key, n_buckets=N)
        mv.merge_scoped_versioned(self.spark, path, base, now=T0)
        return path

    def twins(self, base=None) -> tuple[str, str]:
        base = self.rows() if base is None else base
        return self.table(base), self.table(base)

    def batch(self, schema=BASE, keys=KEYS[::3] + ["new"]):
        self.n += 1
        return _feed(self.spark, self.root, f"b{self.n}",
                     [(k, -i, None) for i, k in enumerate(keys)], schema)

    def look(self, path: str, value, drop=()) -> list:
        df = mv.read_bucket_for_key_versioned(self.spark, path, value)
        return [] if df is None else _canon(df.drop(*drop).collect())

    def commit(self, path: str, batch, drop=(), **kw) -> list:
        mv.merge_scoped_versioned(self.spark, path, batch, now=T1, **kw)
        return self.snapshot(path, drop)

    def snapshot(self, path: str, drop=()) -> list:
        return _canon(mv.read_bucket_table_versioned(self.spark, path).drop(*drop).collect())

    def feed(self, path: str, a: int, b: int, drop=()) -> list:
        return _canon(mv.change_feed(self.spark, path, a, b).drop(*drop).collect())

    @contextlib.contextmanager
    def bound(self, name: str, value: int):
        with self.mp.context() as m:
            m.setattr(mv, name, value)
            yield

    def strip(self, path: str, *fields: str) -> int:
        """Commit the latest snapshot again without the manifest's
        `fields` (schema, stats): the shape of tables committed before
        manifests recorded them."""
        v = mv.latest_version(path)
        full = mv._load_manifest_full(path, v)
        kw = {"schema": full.get("schema"), "stats": full.get("stats")}
        for f in fields:
            kw[f] = None
        mv._commit(path, v + 1, full["buckets"], full["n_buckets"], op="load", **kw)
        return v + 1

    def encode(self, path: str, int96: bool) -> None:
        """Rewrite every generation file of the latest version with
        pyarrow, timestamps as INT96 or as INT64 microseconds."""
        full = mv._load_manifest_full(path, mv.latest_version(path))
        for i, g in full["buckets"].items():
            for f in mv._data_files(mv._gen_data_path(path, i, g)):
                t = pq.read_table(f, coerce_int96_timestamp_unit="us")
                pq.write_table(
                    t, f, use_deprecated_int96_timestamps=int96,
                    coerce_timestamps=None if int96 else "us", store_schema=False,
                )


IV = "id string, n long, d string, iv interval day to second"


def _iv(i, k):
    return (k, i, f"d{i}", datetime.timedelta(seconds=i))


def _lookup_cases(w: Walk):
    """(refused, eligible) row thunks per lookup reason."""
    def no_schema():
        p = w.table()
        real = mv._slice_from_root

        def refused():
            with w.mp.context() as m:
                m.setattr(mv, "_slice_from_root",
                          lambda *a: {k: v for k, v in real(*a).items() if k != "schema"})
                return w.look(p, "k03")
        return refused, lambda: w.look(p, "k03")

    def key_type():
        # a float probe; the twin's long key takes an int one
        a = w.table(w.rows("id double, n long, d string", lambda i, k: (float(i), i, k)))
        b = w.table(w.rows("id long, n long, d string", lambda i, k: (i, i, k)))
        return lambda: w.look(a, 3.0), lambda: w.look(b, 3)

    def not_arrow():
        a, b = w.table(w.rows(IV, _iv)), w.table()
        return lambda: w.look(a, "k03", drop=["iv"]), lambda: w.look(b, "k03")

    def too_large():
        p = w.table()

        def refused():
            with w.bound("LOCAL_READ_BYTES", 0):
                return w.look(p, "k03")
        return refused, lambda: w.look(p, "k03")

    def int96_file():
        a, b = w.twins()
        w.encode(a, True)
        w.encode(b, False)
        return lambda: w.look(a, "k03"), lambda: w.look(b, "k03")

    def null_map():
        # a NULL map of arrays; the twin's NULL map holds longs
        a = w.table(w.rows("id string, n long, m map<string, array<long>>",
                           lambda i, k: (k, i, None if i == 3 else {"a": [i]})))
        b = w.table(w.rows("id string, n long, m map<string, long>",
                           lambda i, k: (k, i, None if i == 3 else {"a": i})))
        return lambda: w.look(a, "k03"), lambda: w.look(b, "k03")

    return locals()


def _merge_cases(w: Walk):
    def custom_merge():
        a, b = w.twins()
        u = w.batch()
        return (lambda: w.commit(a, u, merger=lambda t, x: merge_upsert(t, x, key="id", now=T1)),
                lambda: w.commit(b, u))

    def bucket_column():
        a, b = w.twins()
        u = w.batch()
        return lambda: w.commit(a, u.withColumn("bucket", F.lit(7)), drop=["bucket"]), lambda: w.commit(b, u)

    def key_type():
        a = w.table(w.rows("id double, n long, d string", lambda i, k: (float(i), i, k)), key="id")
        b = w.table(w.rows("id long, n long, d string", lambda i, k: (i, i, k)), key="id")
        ua = _feed(w.spark, w.root, "kt-a", [(float(i), -i, None) for i in (0, 3, 40)], "id double, n long, d string")
        ub = _feed(w.spark, w.root, "kt-b", [(i, -i, None) for i in (0, 3, 40)], "id long, n long, d string")
        return lambda: w.commit(a, ua), lambda: w.commit(b, ub)

    def not_arrow():
        a, b = w.twins()
        u = w.batch()
        return (lambda: w.commit(a, u.withColumn("iv", F.expr("INTERVAL '1' SECOND")), drop=["iv"]),
                lambda: w.commit(b, u))

    def too_large():
        a, b = w.twins()
        u = w.batch()

        def refused():
            with w.bound("LOCAL_WRITE_BYTES", 0):
                return w.commit(a, u)
        return refused, lambda: w.commit(b, u)

    def no_schema():
        a, b = w.twins()
        w.strip(a, "schema")
        u = w.batch()
        return lambda: w.commit(a, u), lambda: w.commit(b, u)

    def mor_deltas():
        a, b = w.twins()
        mor = w.batch(keys=KEYS[1::4])
        for p in (a, b):
            mv.merge_scoped_versioned_mor(w.spark, p, mor, now=T1)
        mv.compact_versioned(w.spark, b)
        u = w.batch()
        return lambda: w.commit(a, u), lambda: w.commit(b, u)

    def deletion_vectors():
        a, b = w.twins()
        dels = _feed(w.spark, w.root, "dels", [(k,) for k in KEYS[2::5]], "id string")
        for p in (a, b):
            mv.merge_deletes_dv(w.spark, p, dels)
        mv.compact_versioned(w.spark, b)
        u = w.batch()
        return lambda: w.commit(a, u), lambda: w.commit(b, u)

    def no_stats():
        a, b = w.twins()
        w.strip(a, "stats")
        u = w.batch()
        return lambda: w.commit(a, u), lambda: w.commit(b, u)

    def widened_type():
        base = w.rows("id long, n long, d string", lambda i, k: (i, i, k))
        a, b = w.twins(base)
        ua = _feed(w.spark, w.root, "wt-a", [(i, -i, None) for i in (0, 3, 40)], "id int, n long, d string")
        ub = _feed(w.spark, w.root, "wt-b", [(i, -i, None) for i in (0, 3, 40)], "id long, n long, d string")
        return lambda: w.commit(a, ua), lambda: w.commit(b, ub)

    def int96_file():
        a, b = w.twins()
        w.encode(a, True)
        w.encode(b, False)
        u = w.batch()
        return lambda: w.commit(a, u), lambda: w.commit(b, u)

    return locals()


def _feed_cases(w: Walk):
    def pair(a: str, b: str, change=None, drop=()):
        """Commit `change` (default: an upsert batch) to both tables and
        return the feeds over that commit."""
        change = change or (lambda p: mv.merge_scoped_versioned(w.spark, p, u, now=T1))
        u = w.batch()
        va, vb = mv.latest_version(a), mv.latest_version(b)
        change(a)
        change(b)
        return lambda: w.feed(a, va, va + 1, drop), lambda: w.feed(b, vb, vb + 1)

    def no_schema():
        a, b = w.twins()
        refused, eligible = pair(a, b)
        w.strip(a, "schema")
        v = mv.latest_version(a)
        return lambda: w.feed(a, v - 2, v), eligible

    def compacted(change):
        """The feed over `change`, and over it plus the compaction that
        folds it (content-neutral, plain on both sides)."""
        p = w.table()
        v = mv.latest_version(p)
        change(p)
        mv.compact_versioned(w.spark, p)
        return lambda: w.feed(p, v, v + 1), lambda: w.feed(p, v, v + 2)

    def mor_deltas():
        u = w.batch()
        return compacted(lambda p: mv.merge_scoped_versioned_mor(w.spark, p, u, now=T1))

    def deletion_vectors():
        dels = _feed(w.spark, w.root, "fdv", [(k,) for k in KEYS[2::5]], "id string")
        return compacted(lambda p: mv.merge_deletes_dv(w.spark, p, dels))

    def schema_changed():
        a = w.table()
        b = w.table(w.rows("id string, n long, d string, tag string", lambda i, k: (k, i, f"d{i}", None)))
        tagged = _feed(w.spark, w.root, "tag", [(k, -i, None, "t") for i, k in enumerate(KEYS[::3])],
                       "id string, n long, d string, tag string")
        return pair(a, b, lambda p: mv.merge_scoped_versioned(w.spark, p, tagged, now=T1))

    def commits(a: str, b: str, ua, ub):
        """Commit `ua` to `a` and `ub` to `b`, and return the feeds over
        those commits (for twins whose batches differ in type)."""
        va, vb = mv.latest_version(a), mv.latest_version(b)
        mv.merge_scoped_versioned(w.spark, a, ua, now=T1)
        mv.merge_scoped_versioned(w.spark, b, ub, now=T1)
        return lambda: w.feed(a, va, va + 1), lambda: w.feed(b, vb, vb + 1)

    def collation():
        # compared in Arrow by its bytes, not by its collation; the twin's
        # `d` is a plain string
        coll = "id string, n long, d string collate UTF8_LCASE"
        return commits(w.table(w.rows(coll)), w.table(), w.batch(coll), w.batch())

    def key_type():
        a = w.table(w.rows("id double, n long, d string", lambda i, k: (float(i), i, k)))
        b = w.table(w.rows("id long, n long, d string", lambda i, k: (i, i, k)))
        ua = _feed(w.spark, w.root, "fkt-a", [(float(i), -i, None) for i in (0, 3, 40)], "id double, n long, d string")
        ub = _feed(w.spark, w.root, "fkt-b", [(i, -i, None) for i in (0, 3, 40)], "id long, n long, d string")
        return commits(a, b, ua, ub)

    def not_arrow():
        return pair(w.table(w.rows(IV, _iv)), w.table(), drop=["iv"])

    def no_stats():
        a, b = w.twins()
        refused, eligible = pair(a, b)
        w.strip(a, "stats")
        v = mv.latest_version(a)
        return lambda: w.feed(a, v - 2, v), eligible

    def too_large():
        a, b = w.twins()
        refused, eligible = pair(a, b)

        def spark_feed():
            with w.bound("LOCAL_WRITE_BYTES", 0):
                return refused()
        return spark_feed, eligible

    def int96_file():
        a, b = w.twins()
        refused, eligible = pair(a, b)
        w.encode(a, True)
        w.encode(b, False)
        return refused, eligible

    return locals()


def _write_cases(w: Walk):
    def write(df):
        w.n += 1
        path = str(w.root / f"w{w.n}")
        mv.write_bucket_table_versioned(df, path, key="id", n_buckets=N)
        return w.snapshot(path, [c for c in ("iv",) if c in df.columns])

    def sorted_write():
        a, b = w.twins()

        def refused():
            mv.optimize_versioned(w.spark, a, cluster_by=["n"], files_per_bucket=1)
            return w.snapshot(a)

        def eligible():
            mv.rebucket_versioned(w.spark, b, N * 2)
            return w.snapshot(b)
        return refused, eligible

    def no_stats():
        a, b = w.twins()
        w.strip(a, "stats")

        def rebucket(p):
            mv.rebucket_versioned(w.spark, p, N * 2)
            return w.snapshot(p)
        return lambda: rebucket(a), lambda: rebucket(b)

    def too_large():
        df = w.rows()

        def refused():
            with w.bound("LOCAL_WRITE_BYTES", 0):
                return write(df)
        return refused, lambda: write(df)

    def not_arrow():
        return lambda: write(w.rows(IV, _iv)), lambda: write(w.rows())

    return locals()


SURFACES = {
    "lookup": _lookup_cases, "merge": _merge_cases,
    "feed": _feed_cases, "write": _write_cases,
}
CASES = [
    ("lookup", r) for r in
    ("no-schema", "key-type", "not-arrow", "too-large", "int96-file", "null-map")
] + [
    ("merge", r) for r in
    ("custom-merge", "bucket-column", "key-type", "not-arrow", "too-large",
     "no-schema", "mor-deltas", "deletion-vectors", "no-stats",
     "widened-type", "int96-file")
] + [
    ("feed", r) for r in
    ("no-schema", "mor-deltas", "deletion-vectors", "collation",
     "schema-changed", "key-type", "not-arrow", "no-stats", "too-large",
     "int96-file")
] + [
    ("write", r) for r in
    ("sorted-write", "no-stats", "too-large", "not-arrow")
]


@pytest.mark.parametrize("surface,reason", CASES, ids=[f"{s}-{r}" for s, r in CASES])
def test_refusal_walk(spark, tmp_path, monkeypatch, caplog, surface, reason):
    w = Walk(spark, tmp_path, monkeypatch)
    refused, eligible = SURFACES[surface](w)[reason.replace("-", "_")]()
    gate_log(caplog)
    caplog.clear()
    want = refused()
    assert paths(caplog, surface)[-1] == (False, reason)
    caplog.clear()
    got = eligible()
    assert paths(caplog, surface)[-1] == (True, None)
    assert got == want


def test_feed_map_column_refused_and_applies(spark, tmp_path, monkeypatch, caplog):
    """A map column keeps the Spark diff, which compares maps by their
    sorted entries: the feed carries exactly the changed row, and
    applying it to the old snapshot gives the new one."""
    w = Walk(spark, tmp_path, monkeypatch)
    schema = "id string, n long, m map<string, long>"
    p = w.table(w.rows(schema, lambda i, k: (k, i, {"a": i, "b": -i})))
    v = mv.latest_version(p)
    mv.merge_scoped_versioned(spark, p, _feed(spark, tmp_path, "m2", [("k01", 1, {"a": 9, "b": -1})], schema),
                              now=T1)
    gate_log(caplog)
    caplog.clear()
    feed = mv.change_feed(spark, p, v, v + 1)
    assert paths(caplog, "feed") == [(False, "map-column")]
    assert [(r["id"], r["change"]) for r in feed.collect()] == [("k01", "update")]
    old = mv.read_bucket_table_versioned(spark, p, v)
    new = mv.read_bucket_table_versioned(spark, p, v + 1)
    applied = mv.apply_change_feed(old, feed, ["id"]).select(*new.columns)
    assert _canon(applied.collect()) == _canon(new.collect())


def test_every_reason_is_walked():
    walked = {r for _, r in CASES} | {"map-column"}
    assert walked == set(mv.REFUSALS)
