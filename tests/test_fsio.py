"""The file-commit primitive (`cvemate_spark/fsio.py`) and the protocols
built on it.

* Pins: `fsio.py` is the only module of the package that replaces,
  renames, flocks or removes trees (bar the named throwaway stream
  `run_dir` cleanups), and no program file names a checkout path.
* Durability: a driver-path copy-on-write commit fsyncs every file it
  publishes, and the manifest, before `_LATEST` is replaced.
* Crash at every point: the k-th call into `fsio` (a primitive, or one
  of the fsyncs it makes) raises, and every later one too — the process
  is dead — for k = 1, 2, ... until the protocol completes. After each
  crash, readers see exactly version v or v+1, the next writer commits,
  and vacuum leaves no orphan behind. Protocols: the versioned
  copy-on-write commit on both writers (the driver path, and Spark
  with LOCAL_READ_BYTES / LOCAL_WRITE_BYTES forced to 0) and
  `catalog_txn`.
"""

from __future__ import annotations

import contextlib
import glob
import os
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cvemate_spark import fsio
from cvemate_spark.operators import catalog as cat
from cvemate_spark.operators import merge_versioned as mv
from test_write_local import gate_log, paths

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "cvemate_spark"
T0 = "2024-01-01 00:00:00"
KEYS = [f"k{i}" for i in range(6)]

# ------------------------------------------------------------- the pins
RAW = re.compile(r"os\.replace\(|os\.rename\(|fcntl\.flock\(")
RMTREE = re.compile(r"shutil\.rmtree\(")
# throwaway per-run stream dirs (`<SCRATCH>/s<N>_<pid>`) that no reader
# resolves: removing one is not part of any commit protocol
RUN_DIR_CLEANUP = "shutil.rmtree(run_dir, ignore_errors=True)"
RUN_DIR_FILES = {"streaming/jobs.py", "streaming/drift.py"}


def test_only_fsio_commits_files():
    bad = []
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        if rel == "fsio.py":
            continue
        for n, line in enumerate(f.read_text().splitlines(), 1):
            allowed = rel in RUN_DIR_FILES and line.strip() == RUN_DIR_CLEANUP
            if RAW.search(line) or (RMTREE.search(line) and not allowed):
                bad.append(f"{rel}:{n}: {line.strip()}")
    assert bad == []


def test_no_program_file_names_a_checkout_path():
    """Package and tools resolve the repository from their own path, so
    a second checkout (a `git archive` copy) runs and writes its own
    tree: no file holds this checkout's path or an absolute `.scratch`
    path as a string literal."""
    here = '"' + str(REPO)
    scratch = re.compile(r"""["'](/[^"'\s]*)?/\.scratch""")
    bad = []
    for f in sorted(PKG.rglob("*.py")) + sorted((REPO / "tools").glob("*.py")):
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if here in line or scratch.search(line):
                bad.append(f"{f.relative_to(REPO)}:{n}: {line.strip()}")
    assert bad == []


# ------------------------------------------------------------ primitives
def test_atomic_file_leaves_target_on_error(tmp_path):
    p = tmp_path / "f.json"
    with fsio.atomic_file(str(p)) as f:
        f.write("one")
    with pytest.raises(ZeroDivisionError):
        with fsio.atomic_file(str(p)) as f:
            f.write("two")
            1 / 0
    assert p.read_text() == "one"
    assert sorted(os.listdir(tmp_path)) == ["f.json"]


def test_publish_dir_lost_race_keeps_the_winner(tmp_path):
    for name, body in (("a", "first"), ("b", "second")):
        d = tmp_path / name
        d.mkdir()
        (d / "x").write_text(body)
    assert fsio.publish_dir(str(tmp_path / "a"), str(tmp_path / "final"))
    assert not fsio.publish_dir(str(tmp_path / "b"), str(tmp_path / "final"))
    assert (tmp_path / "final" / "x").read_text() == "first"
    assert sorted(os.listdir(tmp_path)) == ["final"]


def test_build_once_rebuilds_an_unfinished_dir(tmp_path):
    d = tmp_path / "cache" / "t"
    d.mkdir(parents=True)
    (d / "partial").write_text("crashed build")
    runs = []

    def build():
        runs.append(1)
        d.mkdir()
        (d / "data").write_text("ok")
        return 7

    fsio.build_once(str(d), build)
    fsio.build_once(str(d), build)
    assert runs == [1]
    assert sorted(os.listdir(d)) == [fsio.MARKER, "data"]
    assert (d / fsio.MARKER).read_text() == "7"


# ------------------------------------------------------------ durability
def _feed(spark, root: Path, k: int):
    """A batch of KEYS valued `b<k>`, read from a parquet file: a file
    scan has a plan estimate, so a small batch may take the driver
    path."""
    f = root / "feeds" / f"b{k}.parquet"
    f.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": KEYS, "val": [f"b{k}"] * len(KEYS)}), str(f)
    )
    return spark.read.parquet(str(f))


def _commit(spark, path: str, root: Path, k: int) -> dict:
    return mv.merge_scoped_versioned(spark, path, _feed(spark, root, k), now=T0)


def test_cow_commit_fsyncs_what_the_pointer_names_first(
    spark, tmp_path, caplog, monkeypatch
):
    path = os.path.join(os.path.realpath(tmp_path), "t")  # as fds resolve
    mv.init_bucket_table_versioned(path, key="id", n_buckets=2)
    _commit(spark, path, tmp_path, 0)
    before = mv._load_manifest_full(path, mv.latest_version(path))
    gate_log(caplog)
    events = []
    fsync, replace, rename = os.fsync, os.replace, os.rename

    def on_fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return fsync(fd)

    def on_move(real, kind):
        def move(src, dst):
            events.append((kind, str(src), str(dst)))
            return real(src, dst)
        return move

    monkeypatch.setattr(os, "fsync", on_fsync)
    monkeypatch.setattr(os, "replace", on_move(replace, "replace"))
    monkeypatch.setattr(os, "rename", on_move(rename, "rename"))
    _commit(spark, path, tmp_path, 1)
    monkeypatch.undo()
    assert paths(caplog, "merge") == [(True, None)]

    v = mv.latest_version(path)
    after = mv._load_manifest_full(path, v)
    new_gens = {
        i: g for i, g in after["buckets"].items()
        if before["buckets"].get(i) != g
    }
    assert new_gens
    synced = [e[1] for e in events if e[0] == "fsync"]

    def at(kind, dst):
        (pos,) = [n for n, e in enumerate(events) if e[0] == kind and e[2] == dst]
        return pos

    latest = at("replace", f"{path}/_LATEST")
    manifest = at("replace", mv._manifest_path(path, v))
    for i, g in new_gens.items():
        gdir = f"{path}/bucket={i}/{g}"
        published = at("rename", gdir)
        staged = events[published][1]
        files = os.listdir(gdir)
        assert files
        for fn in files:  # each file fsynced where it was staged
            assert ("fsync", f"{staged}/{fn}") in events[:published]
        # the parent's fsync makes the new name durable, before the
        # manifest naming it lands
        assert ("fsync", f"{path}/bucket={i}") in events[published:manifest]
    new_shards = set.difference(*(
        {e["f"] for e in mv._load_root(path, u)["shards"].values()}
        for u in (v, v - 1)
    ))
    for s in new_shards:
        assert at("replace", f"{path}/_manifest/{s}") < manifest
    # the manifest's temp is fsynced before its replace, its directory
    # after; both land before the pointer's replace
    tmp_m = events[manifest][1]
    assert ("fsync", tmp_m) in events[:manifest]
    assert ("fsync", path) in events[manifest:latest]
    assert ("fsync", events[latest][1]) in events[manifest:latest]
    # the whole cost: per touched bucket its file, its staged dir and
    # the parent; per rewritten shard, root and pointer a file and a dir
    assert len(synced) == 3 * len(new_gens) + 2 * len(new_shards) + 4


# ------------------------------------------------------ crash at every k
class Crash(BaseException):
    """A simulated process death (not an Exception, so no handler in the
    package can swallow it)."""


POINTS = ("atomic_file", "publish_dir", "locked", "build_once", "discard", "_sync")


@contextlib.contextmanager
def crash_at(k: int):
    """From the k-th call into fsio on, every call raises Crash."""
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        for name in POINTS:
            def point(*args, _real=getattr(fsio, name), **kwargs):
                calls.append(1)
                if len(calls) >= k:
                    raise Crash(f"crash at fsio call {k}")
                return _real(*args, **kwargs)

            mp.setattr(fsio, name, point)
        yield


def crash_every_point(run, check) -> int:
    """Run `run(k)` crashing at the k-th fsio call for k = 1, 2, ...
    and call `check(k, crashed)` after each, until a run completes.
    Returns the number of crash points."""
    k = 0
    while True:
        k += 1
        crashed = False
        with crash_at(k):
            try:
                run(k)
            except Crash:
                crashed = True
        check(k, crashed)
        if not crashed:
            return k - 1


def _rows(df) -> dict:
    return {r["id"]: r["val"] for r in df.select("id", "val").collect()}


def _read(spark, path: str) -> dict:
    return _rows(mv.read_bucket_table_versioned(spark, path))


def _assert_no_orphans(path: str) -> None:
    """After `vacuum_bucket_versions(keep=1)`: one version, and exactly
    the generations and shards it references."""
    v = mv.latest_version(path)
    assert mv._list_versions(path) == [v]
    root = mv._load_root(path, v)
    m = mv._slice_from_root(path, root, None)
    live = {mv._gen_data_path(path, i, g) for i, g in m["buckets"].items()}
    assert set(glob.glob(f"{path}/bucket=*/g-*")) == live
    assert set(os.listdir(f"{path}/_manifest")) == {
        e["f"] for e in root["shards"].values()
    }
    assert set(os.listdir(path)) <= {
        "_BUCKETS", "_LATEST", "_COMMITLOCK", "_MERGELOCK", mv.HISTORY_LOG,
        mv.MANIFEST_DIR, f"v-{v}.json",
    } | {f"bucket={i}" for i in range(m["n_buckets"])}


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_cow_commit_survives_a_crash_at_every_point(
    spark, tmp_path, caplog, monkeypatch, writer
):
    if writer == "spark":
        monkeypatch.setattr(mv, "LOCAL_READ_BYTES", 0)
        monkeypatch.setattr(mv, "LOCAL_WRITE_BYTES", 0)
    taken = (True, None) if writer == "driver" else (False, "too-large")
    gate_log(caplog)
    path = str(tmp_path / "t")
    mv.init_bucket_table_versioned(path, key="id", n_buckets=2)
    _commit(spark, path, tmp_path, 0)
    state = {}

    def run(k):
        state["v"] = mv.latest_version(path)
        state["before"] = _read(spark, path)
        caplog.clear()
        _commit(spark, path, tmp_path, k)

    def check(k, crashed):
        v, before = state["v"], state["before"]
        after = {**before, **{key: f"b{k}" for key in KEYS}}
        seen = mv.latest_version(path)
        assert seen in (v, v + 1), k
        state.setdefault("outcomes", set()).add(seen - v)
        assert _read(spark, path) == (after if seen == v + 1 else before), k
        if not crashed:
            assert seen == v + 1
            assert paths(caplog, "merge") == [taken]
            return
        # the next writer commits on top of whatever the crash left
        stats = _commit(spark, path, tmp_path, k)
        assert mv.latest_version(path) == stats["version"] > seen, k
        assert _read(spark, path) == after, k
        mv.vacuum_bucket_versions(path, keep=1)
        _assert_no_orphans(path)
        assert _read(spark, path) == after, k

    # crashes before the pointer's replace leave v, crashes after it
    # (its directory fsync) leave v+1: the sweep sees both
    assert crash_every_point(run, check) >= 10
    assert state["outcomes"] == {0, 1}


def test_catalog_txn_survives_a_crash_at_every_point(spark, tmp_path):
    """One transaction commits table `a` and publishes the catalog; `b`
    is a read-only member pinned alongside. The k-th fsio call of the
    whole transaction crashes it — inside a's commit or in the publish —
    and catalog readers still resolve one joint snapshot."""
    a, b, c = (str(tmp_path / n) for n in ("a", "b", "cat"))
    for p in (a, b):
        mv.init_bucket_table_versioned(p, key="id", n_buckets=2)
        _commit(spark, p, tmp_path, 0)
    cat.catalog_init(c)
    members = {"a": a, "b": b}
    cat.catalog_txn(spark, c, members)
    state = {}

    def joint() -> dict:
        return {n: _rows(cat.catalog_read(spark, c, n)) for n in members}

    def txn(k):
        return cat.catalog_txn(
            spark, c, members,
            actions={"a": lambda s, p: _commit(s, p, tmp_path, k)},
        )

    def run(k):
        state["v"] = cat.catalog_latest(c)
        state["before"] = joint()
        txn(k)

    def check(k, crashed):
        v, before = state["v"], state["before"]
        after = {"a": {key: f"b{k}" for key in KEYS}, "b": before["b"]}
        seen = cat.catalog_latest(c)
        assert seen in (v, v + 1), k
        state.setdefault("outcomes", set()).add(seen - v)
        assert joint() == (after if seen == v + 1 else before), k
        if not crashed:
            assert seen == v + 1
            return
        assert txn(k)["catalog_version"] == seen + 1, k
        assert joint() == after, k
        cat.vacuum_catalog(c, keep=1)
        cat.vacuum_catalog_members(c, keep=1)
        for p in (a, b):
            _assert_no_orphans(p)
        latest = cat.catalog_latest(c)
        assert cat._cat_versions(c) == [latest]
        assert not glob.glob(f"{c}/.*.tmp-*")
        assert joint() == after, k

    # crashes before the pointer's replace leave v, crashes after it
    # (its directory fsync) leave v+1: the sweep sees both
    assert crash_every_point(run, check) >= 10
    assert state["outcomes"] == {0, 1}
