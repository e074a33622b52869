"""Property tests for the data-skipping planner (no Spark session).

`prune_generations` is pure manifest arithmetic, so it can be tested
against a brute-force model exhaustively: for random per-bucket value
sets (with nulls, all-null buckets, stats-less buckets) and random
closed/open ranges, a bucket may be SKIPPED only if no value in it can
match — and every bucket holding a matching value must be read. The
asymmetric law matters: wrongly reading is a wasted I/O, wrongly
skipping is silent data loss; the planner must never do the latter,
including for buckets whose stats were never harvested (absent stats
=> always read).
"""

from __future__ import annotations

import json
import os

from hypothesis import given, settings, strategies as st

from cvemate_spark.operators.merge_versioned import (
    _write_manifest,
    prune_generations,
)


def _mk_table(tmpdir: str, buckets: dict[str, dict]) -> str:
    """Write the minimal on-disk shape prune_generations reads: a
    _BUCKETS meta, a v-1 manifest (root + shards, through the real
    writer) with per-bucket stats, a _LATEST pointer."""
    path = os.path.join(tmpdir, "t")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_BUCKETS"), "w") as f:
        json.dump({"key": "id", "n_buckets": len(buckets), "v": 2}, f)
    _write_manifest(
        path, 1, {i: f"g-{i}" for i in buckets}, len(buckets),
        stats={
            i: {"rows": 1, "bytes": 1, "files": 1, "cols": b["cols"]}
            for i, b in buckets.items()
            if b["cols"] is not None
        },
    )
    with open(os.path.join(path, "_LATEST"), "w") as f:
        f.write("1")
    return path


def _bucket_from_values(values: list[int | None], harvested: bool) -> dict:
    """Model of _harvest_stats for an int column: min/max over the
    non-null values, 'null' tag when every value is null, absent when
    the footer stats were unusable (harvested=False)."""
    if not harvested:
        return {"values": values, "cols": None}
    nonnull = [v for v in values if v is not None]
    if not nonnull:
        cols = {"x": {"t": "null", "n": len(values)}}
    else:
        cols = {
            "x": {
                "t": "num",
                "lo": min(nonnull),
                "hi": max(nonnull),
                "n": len(values) - len(nonnull),
            }
        }
    return {"values": values, "cols": cols}


bucket_strategy = st.builds(
    _bucket_from_values,
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        min_size=1,
        max_size=6,
    ),
    st.booleans(),
)

bound = st.one_of(st.none(), st.integers(min_value=-60, max_value=60))


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from([str(i) for i in range(8)]),
        bucket_strategy,
        min_size=1,
        max_size=8,
    ),
    bound,
    bound,
)
def test_prune_never_skips_a_matching_bucket(tmp_path_factory, buckets, lo, hi):
    tmpdir = str(tmp_path_factory.mktemp("skip"))
    path = _mk_table(tmpdir, buckets)
    plan = prune_generations(path, "x", lo, hi)
    read, skipped = set(plan["read"]), set(plan["skipped"])
    assert read | skipped == set(buckets) and not (read & skipped)
    for i, b in buckets.items():
        matches = any(
            v is not None
            and (lo is None or v >= lo)
            and (hi is None or v <= hi)
            for v in b["values"]
        )
        # SOUND: a bucket holding any matching value is never skipped
        if matches:
            assert i in read, (i, b, lo, hi)
        # stats-less buckets are always read (absent stats never skip)
        if b["cols"] is None:
            assert i in read
        # TIGHT (for harvested buckets): a skip implies a provable
        # no-match — re-derivable from the recorded bounds
        if i in skipped:
            s = b["cols"]["x"]
            if s["t"] == "null":
                assert all(v is None for v in b["values"])
            else:
                assert (lo is not None and s["hi"] < lo) or (
                    hi is not None and s["lo"] > hi
                )


def test_coerce_bound_preserves_large_int_exactness():
    """Review-caught precision bug: int bounds must not round through
    float (2^53+1 -> float rounds, which could skip a generation whose
    exact int max matches the residual filter)."""
    from cvemate_spark.operators.merge_versioned import _coerce_bound

    big = 2**53 + 1
    got = _coerce_bound("num", big)
    assert got == big and isinstance(got, int)
    # mixed int/float comparisons in Python are exact, so the planner's
    # stats compare (float hi vs int bound) stays sound
    assert not (float(2**53) >= big)
    # raw ints never coerce for timestamp columns (unit ambiguity)
    assert _coerce_bound("ts", 1767225600) is None
    assert _coerce_bound("num", float("nan")) is None


def _bucket_from_files(
    file_values: list[list[int | None]], harvested: bool, ledgered: bool
) -> dict:
    """Model of a MULTI-FILE generation (the optimize_versioned
    clustered layout): per-file stats under 'fs' when the ledger is
    recorded, bucket-level stats as the merge of the files'."""
    all_vals = [v for fv in file_values for v in fv]
    base = _bucket_from_values(all_vals, harvested)
    if not harvested:
        return {**base, "files": file_values, "fs": None}
    fs = None
    if ledgered and len(file_values) > 1:
        fs = {}
        for k, fv in enumerate(file_values):
            fcols = _bucket_from_values(fv, True)["cols"]
            fs[f"f{k}.parquet"] = {
                "rows": len(fv), "bytes": 1, "cols": fcols,
            }
    return {**base, "files": file_values, "fs": fs}


multi_bucket_strategy = st.builds(
    _bucket_from_files,
    st.lists(
        st.lists(
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    ),
    st.booleans(),
    st.booleans(),
)


def _mk_table_fs(tmpdir: str, buckets: dict[str, dict]) -> str:
    path = os.path.join(tmpdir, "t")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_BUCKETS"), "w") as f:
        json.dump({"key": "id", "n_buckets": len(buckets), "v": 2}, f)
    stats = {}
    for i, b in buckets.items():
        if b["cols"] is None:
            continue
        e = {
            "rows": 1, "bytes": 1,
            "files": len(b["files"]), "cols": b["cols"],
        }
        if b["fs"] is not None:
            e["fs"] = b["fs"]
        stats[i] = e
    _write_manifest(
        path, 1, {i: f"g-{i}" for i in buckets}, len(buckets), stats=stats
    )
    with open(os.path.join(path, "_LATEST"), "w") as f:
        f.write("1")
    return path


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from([str(i) for i in range(6)]),
        multi_bucket_strategy,
        min_size=1,
        max_size=6,
    ),
    bound,
    bound,
)
def test_prune_files_never_skips_a_matching_file(
    tmp_path_factory, buckets, lo, hi
):
    """The file-grain extension of the soundness law: a FILE holding
    any matching value is never skipped; a bucket without a per-file
    ledger is read as a whole dir; dir+file read set plus skips cover
    every bucket exactly once."""
    from cvemate_spark.operators.merge_versioned import prune_files

    tmpdir = str(tmp_path_factory.mktemp("fskip"))
    path = _mk_table_fs(tmpdir, buckets)
    plan = prune_files(path, [("x", lo, hi)])
    read_dirs = {
        p.split("/")[-2].split("=")[1]
        for p in plan["read"]
        if not p.endswith(".parquet")
    }
    read_files = {
        (p.split("/")[-3].split("=")[1], p.split("/")[-1])
        for p in plan["read"]
        if p.endswith(".parquet")
    }
    skipped_files = {
        (p.split("/")[-3].split("=")[1], p.split("/")[-1])
        for p in plan["skipped_files"]
    }
    skipped_buckets = set(plan["skipped"])
    has_bound = lo is not None or hi is not None

    def match(v):
        return (
            v is not None
            and (lo is None or v >= lo)
            and (hi is None or v <= hi)
        )

    for i, b in buckets.items():
        bucket_matches = any(match(v) for fv in b["files"] for v in fv)
        if i in skipped_buckets:
            # bucket-grain skip must be provable (inherited law)
            assert has_bound and not bucket_matches, (i, b, lo, hi)
            continue
        if b["fs"] is None or not has_bound:
            # no ledger (or no predicate): whole dir read, no file skips
            assert i in read_dirs, (i, b)
            assert not any(bi == i for bi, _ in skipped_files)
            continue
        # ledgered bucket under a bounded predicate: every file is
        # either read or skipped, and no matching file is skipped
        for k, fv in enumerate(b["files"]):
            fname = f"f{k}.parquet"
            tag = (i, fname)
            assert (tag in read_files) != (tag in skipped_files), tag
            if any(match(v) for v in fv):
                assert tag in read_files, (tag, fv, lo, hi)
            if tag in skipped_files:
                # a file skip is provable from ITS recorded bounds
                s = b["fs"][fname]["cols"]["x"]
                if s["t"] == "null":
                    assert all(v is None for v in fv)
                else:
                    assert (lo is not None and s["hi"] < lo) or (
                        hi is not None and s["lo"] > hi
                    )
