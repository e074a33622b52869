"""OP-MERGE law tests (SURVEY §5.3-5.4).

These encode the reference's upsert semantics
(handlers/mongodb_handler.py:154-175): idempotence, per-source
isolation, created_at immutability, last-writer-wins, and
batch-order convergence for disjoint sources.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Row, functions as F

from cvemate_spark.operators.merge import keep_latest_merge, merge_upsert

T0 = "2024-01-01 00:00:00"
T1 = "2024-01-02 00:00:00"
T2 = "2024-01-03 00:00:00"


def _batch(spark, src: str, rows: dict[str, str]):
    return spark.createDataFrame(
        [Row(id=k, **{src: v}) for k, v in rows.items()]
    )


def _as_map(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_insert_then_update_then_idempotent(spark):
    b1 = _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"})
    t1 = merge_upsert(None, b1, now=T0)
    b2 = _batch(spark, "nvd", {"CVE-2": "n2x", "CVE-3": "n3"})
    t2 = merge_upsert(t1, b2, now=T1)
    m = _as_map(t2)
    assert m["CVE-1"]["nvd"] == "n1"
    assert m["CVE-2"]["nvd"] == "n2x"  # last writer wins
    assert m["CVE-3"]["nvd"] == "n3"  # upsert-insert
    # idempotence: same batch again changes nothing but updated_at
    t3 = merge_upsert(t2, b2, now=T2)
    m3 = _as_map(t3)
    assert {k: v["nvd"] for k, v in m3.items()} == {
        k: v["nvd"] for k, v in m.items()
    }


def test_per_source_isolation_and_created_at(spark):
    nvd = _batch(spark, "nvd", {"CVE-1": "n1"})
    t = merge_upsert(None, nvd, now=T0)
    epss = _batch(spark, "epss", {"CVE-1": "e1", "CVE-9": "e9"})
    t = merge_upsert(t, epss, now=T1)
    m = _as_map(t)
    # merging epss never nulls nvd ($set touches only its column)
    assert m["CVE-1"]["nvd"] == "n1" and m["CVE-1"]["epss"] == "e1"
    assert m["CVE-9"]["nvd"] is None and m["CVE-9"]["epss"] == "e9"
    # created_at immutable after first insert; updated_at last-writer
    assert str(m["CVE-1"]["created_at"]) == T0
    assert str(m["CVE-1"]["updated_at"]) == T1
    assert str(m["CVE-9"]["created_at"]) == T1
    # a non-matching later merge leaves updated_at alone
    t2 = merge_upsert(t, _batch(spark, "kev", {"CVE-9": "k9"}), now=T2)
    m2 = _as_map(t2)
    assert str(m2["CVE-1"]["updated_at"]) == T1
    assert str(m2["CVE-9"]["updated_at"]) == T2


def test_disjoint_source_batches_commute(spark):
    batches = {
        "nvd": _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"}),
        "epss": _batch(spark, "epss", {"CVE-2": "e2", "CVE-3": "e3"}),
        "kev": _batch(spark, "kev", {"CVE-1": "k1", "CVE-3": "k3"}),
    }
    results = []
    for perm in itertools.permutations(batches):
        t = None
        for name in perm:
            t = merge_upsert(t, batches[name], now=T0)
        rows = sorted(
            (
                r["id"],
                r.asDict().get("nvd"),
                r.asDict().get("epss"),
                r.asDict().get("kev"),
            )
            for r in t.collect()
        )
        results.append(rows)
    assert all(r == results[0] for r in results[1:])


def test_keep_latest_merge_commutes(spark):
    rows = [
        Row(k="a", ts=1, v="x1"),
        Row(k="a", ts=3, v="x3"),
        Row(k="a", ts=2, v="x2"),
        Row(k="b", ts=5, v="y5"),
        Row(k="b", ts=4, v="y4"),
    ]
    full = spark.createDataFrame(rows)
    chunks = [full.filter(F.col("ts") % 2 == i) for i in (0, 1)]
    direct = keep_latest_merge(None, full, ["k"], [F.desc("ts")])
    replay1 = keep_latest_merge(
        keep_latest_merge(None, chunks[0], ["k"], [F.desc("ts")]),
        chunks[1],
        ["k"],
        [F.desc("ts")],
    )
    replay2 = keep_latest_merge(
        keep_latest_merge(None, chunks[1], ["k"], [F.desc("ts")]),
        chunks[0],
        ["k"],
        [F.desc("ts")],
    )
    want = {("a", 3, "x3"), ("b", 5, "y5")}
    for df in (direct, replay1, replay2):
        assert {tuple(r) for r in df.collect()} == want


def test_read_target_recovers_displaced_old(spark, tmp_path):
    """write_atomic's swap is two renames with a documented crash
    window (target displaced to .old-*, new dir not yet in place);
    read_target must recover the displaced table instead of reporting
    no table at all."""
    import os

    from cvemate_spark.operators.merge import read_target, write_atomic

    path = str(tmp_path / "cve_table")
    write_atomic(spark.range(5).toDF("id"), path)
    os.rename(path, path + ".old-deadbeef")  # crash between the renames
    got = read_target(spark, path)
    assert got is not None and got.count() == 5
    assert read_target(spark, str(tmp_path / "never_written")) is None


def test_merge_many_equals_fold(spark):
    from cvemate_spark.operators.merge import merge_many

    batches = {
        "nvd": _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"}),
        "epss": _batch(spark, "epss", {"CVE-2": "e2", "CVE-3": "e3"}),
        "kev": _batch(spark, "kev", {"CVE-1": "k1", "CVE-3": "k3"}),
    }
    folded = None
    for df in batches.values():
        folded = merge_upsert(folded, df, now=T0)
    wide = merge_many(batches, now=T0)
    key = lambda df: sorted(
        (r["id"], r.asDict().get("nvd"), r.asDict().get("epss"), r.asDict().get("kev"))
        for r in df.collect()
    )
    assert key(folded) == key(wide)


def test_versioned_sink_commit_and_time_travel(spark, tmp_path):
    """Manifest-pointer snapshot laws: latest follows the pointer, old
    versions stay readable (time travel), an unpublished version dir is
    invisible, and vacuum never removes the committed version."""
    from pyspark.sql import Row

    from cvemate_spark.operators.merge import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "tbl")
    v1 = write_versioned(spark.createDataFrame([Row(id=1, x="a")]), path)
    v2 = write_versioned(spark.createDataFrame([Row(id=1, x="b")]), path)
    assert (v1, v2) == (1, 2)
    assert read_versioned(spark, path).first().x == "b"
    assert read_versioned(spark, path, version=1).first().x == "a"

    # a crashed write = data dir present, pointer never replaced:
    # readers still see v2
    spark.createDataFrame([Row(id=1, x="crash")]).write.parquet(f"{path}/v-9")
    assert read_versioned(spark, path).first().x == "b"

    v3 = write_versioned(spark.createDataFrame([Row(id=1, x="c")]), path)
    assert v3 == 10  # next after the orphaned directory, never reused
    assert read_versioned(spark, path).first().x == "c"

    removed = vacuum_versions(path, keep=2)
    assert 1 in removed and 10 not in removed
    assert read_versioned(spark, path).first().x == "c"


def test_versioned_sink_vacuum_grace_protects_live_readers(spark, tmp_path):
    """Retention law (VERDICT r3 item 8): a reader that resolved
    _LATEST -> v-k keeps working through a concurrent vacuum, as long
    as the vacuum honors a grace period longer than the read — v-k is
    only reclaimable grace_seconds AFTER being superseded. Also: a
    never-superseded orphan dir is NEVER vacuumed (not provably dead),
    and expiry is counted from supersession, not from write time."""
    import os
    import time as _time

    from pyspark.sql import Row

    from cvemate_spark.operators.merge import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "tbl")
    write_versioned(spark.createDataFrame([Row(id=1, x="a")]), path)
    # reader resolves the CURRENT pointer (v-1) and holds the snapshot
    reader_df = read_versioned(spark, path)
    assert reader_df.first().x == "a"

    # two newer commits supersede v-1 while the reader is "running"
    write_versioned(spark.createDataFrame([Row(id=1, x="b")]), path)
    write_versioned(spark.createDataFrame([Row(id=1, x="c")]), path)

    # vacuum with keep=1 (< the reader's version gap) but a live grace
    # window: v-1 was superseded moments ago, so it MUST survive...
    assert vacuum_versions(path, keep=1, grace_seconds=3600) == []
    assert os.path.isdir(f"{path}/v-1")
    # ...and the in-flight reader's snapshot still fully reads
    assert reader_df.first().x == "a"
    assert read_versioned(spark, path, version=1).first().x == "a"

    # an orphan (allocated dir, never committed, never superseded by a
    # later pointer advance) is not provably dead -> never removed,
    # whatever the grace setting (no marker = no supersession proof)
    spark.createDataFrame([Row(id=1, x="orphan")]).write.parquet(f"{path}/v-9")
    assert 9 not in vacuum_versions(path, keep=1, grace_seconds=3600)
    assert os.path.isdir(f"{path}/v-9")

    # once the grace window has elapsed SINCE SUPERSESSION, the old
    # version is reclaimable (age the marker instead of sleeping)
    os.utime(f"{path}/v-1.superseded", (0, 0))
    removed = vacuum_versions(path, keep=1, grace_seconds=3600)
    assert 1 in removed and not os.path.isdir(f"{path}/v-1")
    # current snapshot unaffected throughout
    assert read_versioned(spark, path).first().x == "c"
    _ = _time  # (kept for symmetry with other timing-law tests)


def test_versioned_sink_concurrent_writers_race(spark, tmp_path):
    """CAS commit law: N racing writers each allocate a DISTINCT
    version (O_EXCL claim), every committed version's data survives
    intact (time travel reads each one), and the pointer lands on the
    highest committed version — no lost update, and a slow racer can
    never roll the pointer back over a newer commit."""
    import threading

    from pyspark.sql import Row

    from cvemate_spark.operators.merge import read_versioned, write_versioned

    path = str(tmp_path / "tbl")
    results: dict[int, int] = {}
    errors: list[Exception] = []

    def writer(tag: int) -> None:
        try:
            df = spark.createDataFrame([Row(id=tag, x=f"w{tag}")])
            results[tag] = write_versioned(df, path)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results.values()) == [1, 2, 3, 4]  # distinct + dense
    for tag, v in results.items():  # no committed data lost
        assert read_versioned(spark, path, version=v).first().x == f"w{tag}"
    with open(f"{path}/_LATEST") as f:
        assert int(f.read()) == 4  # pointer = max committed


def test_merge_delete_laws(spark):
    from cvemate_spark.operators.merge import merge_upsert_deletes

    NOW = "2026-01-01 00:00:00"
    target = spark.createDataFrame(
        [Row(id="a", v=1), Row(id="b", v=2), Row(id="c", v=3)]
    )
    ups = spark.createDataFrame(
        [
            Row(id="b", v=20, _deleted=False),   # update
            Row(id="c", v=None, _deleted=True),  # delete existing
            Row(id="d", v=40, _deleted=False),   # insert
            Row(id="z", v=None, _deleted=True),  # delete absent: no-op
        ]
    )
    out = merge_upsert_deletes(target, ups, key="id", now=NOW)
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {"a": 1, "b": 20, "d": 40}

    # idempotent: re-applying the same batch changes nothing
    again = merge_upsert_deletes(out, ups, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in again.collect()} == got

    # delete is not a blacklist: a later upsert resurrects the key
    back = spark.createDataFrame([Row(id="c", v=300, _deleted=False)])
    res = merge_upsert_deletes(again, back, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in res.collect()}["c"] == 300


def test_merge_delete_null_flag_is_live(spark):
    """A NULL _deleted flag means not-deleted (dirty CDC feeds omit the
    flag on plain upserts): such rows must take the live upsert leg,
    not silently vanish from both filter legs."""
    from cvemate_spark.operators.merge import merge_upsert_deletes

    NOW = "2026-01-01 00:00:00"
    target = spark.createDataFrame([Row(id="a", v=1)])
    ups = spark.createDataFrame(
        [("a", 10, None), ("b", 2, None), ("a2", None, True)],
        "id string, v int, _deleted boolean",
    )
    out = merge_upsert_deletes(target, ups, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in out.collect()} == {"a": 10, "b": 2}


def test_diff_applied_through_merge_reproduces_v2(spark):
    """table_diff and merge_upsert_deletes are inverses: applying the
    CDC batch derived from (v1 -> v2) onto v1 yields exactly v2."""
    from cvemate_spark.operators.merge import merge_upsert_deletes, table_diff

    NOW = "2026-01-01 00:00:00"
    v1 = spark.createDataFrame(
        [Row(id="a", v=1), Row(id="b", v=2), Row(id="c", v=3)]
    )
    v2 = spark.createDataFrame(
        [Row(id="b", v=2), Row(id="c", v=30), Row(id="d", v=4)]
    )
    cdc = table_diff(v1, v2, key="id").withColumn(
        "_deleted", F.col("change") == "delete"
    ).drop("change")
    out = merge_upsert_deletes(v1, cdc, key="id", now=NOW).select("id", "v")
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in v2.collect()}


def test_advance_pointer_never_stamps_unfinished_write(spark, tmp_path):
    """A racer's version dir that exists but whose parquet job has not
    finished (no _SUCCESS) must NOT receive a supersession marker from
    a later commit — stamping it would start the vacuum grace clock on
    a mid-write version (ADVICE r4). Once the write completes, the next
    commit stamps it."""
    import os

    from pyspark.sql import Row

    from cvemate_spark.operators.merge import vacuum_versions, write_versioned

    path = str(tmp_path / "tbl")
    write_versioned(spark.createDataFrame([Row(id=1, x="a")]), path)

    # simulate an in-flight racer: claimed + dir exists, _SUCCESS absent
    os.close(os.open(f"{path}/v-5.claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    spark.createDataFrame([Row(id=1, x="slow")]).write.parquet(f"{path}/v-5")
    os.unlink(f"{path}/v-5/_SUCCESS")

    v = write_versioned(spark.createDataFrame([Row(id=1, x="b")]), path)
    assert v == 6
    assert not os.path.exists(f"{path}/v-5.superseded")
    # unmarked -> vacuum never selects it, even with zero grace
    assert 5 not in vacuum_versions(path, keep=1, grace_seconds=0.0)
    assert os.path.isdir(f"{path}/v-5")

    # the racer finishes; the NEXT commit stamps it, making it reclaimable
    open(f"{path}/v-5/_SUCCESS", "w").close()
    write_versioned(spark.createDataFrame([Row(id=1, x="c")]), path)
    assert os.path.exists(f"{path}/v-5.superseded")
    assert 5 in vacuum_versions(path, keep=1, grace_seconds=0.0)


def test_keep_latest_merge_strict_union_by_default(spark):
    """ADVICE r11 (low): the public keep_latest_merge must REJECT a
    batch whose columns don't line up with the target — silent
    null-padding would let a winning batch row null out existing
    values through a misspelled column. Only the versioned fold/MOR
    call sites opt into allow_missing_columns=True."""
    import pytest

    target = spark.createDataFrame([Row(k=1, ts=1, v="a")])
    bad = spark.createDataFrame([Row(k=1, ts=2, vv="b")])  # misspelled
    with pytest.raises(Exception, match="(?i)union|resolve|column"):
        keep_latest_merge(
            target, bad, ["k"], [F.desc("ts")]
        ).collect()
    # the opt-in keeps the versioned layer's null-padding semantics
    out = keep_latest_merge(
        target, bad, ["k"], [F.desc("ts")], allow_missing_columns=True
    ).collect()
    assert out[0]["v"] is None and out[0]["vv"] == "b"
