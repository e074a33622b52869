"""OP-MERGE: the keyed upsert-merge, the reference engine's core operator.

Reproduces the semantics of the reference's bulk upsert
(`handlers/mongodb_handler.py:154-175`):
    UpdateOne({key: id},
              {"$set": {...payload, updated_at},
               "$setOnInsert": {created_at}}, upsert=True)
i.e. per-column last-writer-wins for the columns present in the update
batch, untouched columns preserved, `created_at` immutable after first
insert, `updated_at` stamped on every write that matches.

Spark-first rewrite: one full-outer join on the key + per-column
coalesce — a single shuffle on `key`, no point lookups, no write
queue. Atomicity without Delta comes from the write-new-then-swap
directory protocol (`write_atomic`) or the version pointer
(`write_versioned`). The bucketed table, where a merge rewrites only
the buckets its batch touches and commits atomically across them, is
`operators/merge_versioned.py`; this module holds the bucket hash it
shares with its callers (`bucket_expr`, `bucket_of_value`).

Laws (tested in tests/test_merge_laws.py, SURVEY §5.3-5.4):
    idempotence          merge(merge(T, B), B) == merge(T, B)
    per-source isolation merging an `epss` batch never nulls `nvd`
    created_at immutable first insert wins
    last-writer-wins     within a column, the latest batch wins
    order convergence    disjoint-source batches commute
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from .. import fsio

AUDIT_COLS = ("created_at", "updated_at")


def merge_upsert(
    target: DataFrame | None,
    updates: DataFrame,
    key: str = "id",
    now=None,
) -> DataFrame:
    """Full-outer-join upsert of `updates` into `target`.

    `updates` carries the key plus any subset of payload columns (one
    struct column per source in the cve model). Column semantics:
    present in both -> coalesce(update, existing) ($set per column);
    only in one -> carried through. `now` is a deterministic timestamp
    literal for tests (defaults to current_timestamp()).
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()

    if target is None:
        base = updates
        return base.select(
            key,
            *[c for c in updates.columns if c != key and c not in AUDIT_COLS],
            now_col.alias("created_at"),
            now_col.alias("updated_at"),
        )

    u = updates.withColumn("__upd", F.lit(True))
    t_cols = [c for c in target.columns if c != key and c not in AUDIT_COLS]
    u_cols = [c for c in updates.columns if c != key and c not in AUDIT_COLS]
    joined = target.alias("t").join(u.alias("u"), key, "full_outer")

    out_cols: list = [F.col(key)]
    for c in t_cols:
        if c in u_cols:
            out_cols.append(F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    for c in u_cols:
        if c not in t_cols:
            out_cols.append(F.col(f"u.{c}").alias(c))

    has_created = "created_at" in target.columns
    created = (
        F.coalesce(F.col("t.created_at"), now_col) if has_created else now_col
    )
    updated = (
        F.when(F.col("u.__upd"), now_col).otherwise(F.col("t.updated_at"))
        if "updated_at" in target.columns
        else now_col
    )
    out_cols += [created.alias("created_at"), updated.alias("updated_at")]
    return joined.select(*out_cols)


# Spark's cast of a `now` literal, per (session time zone, literal)
_NOW_CASTS: dict[tuple, int] = {}


def now_micros(spark: SparkSession, now) -> int:
    """The instant `merge_upsert` stamps for `now`, in UTC microseconds.
    A datetime (naive = local time, as `F.lit` reads it) or None (the
    current instant) goes through PySpark's own
    `TimestampType().toInternal`; any other literal, such as a
    "yyyy-mm-dd hh:mm:ss" string, through Spark's own cast on a one-row
    relation built from Arrow, which is local: its collect runs no
    job. That cast depends only on the literal and the session time
    zone, so its result is memoized per pair (`_NOW_CASTS`): a commit
    repeating a literal builds no frame."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.types import TimestampType

    if now is None:
        now = datetime.datetime.now(datetime.timezone.utc)
    if isinstance(now, datetime.datetime):
        return TimestampType().toInternal(now)
    memo = (spark.conf.get("spark.sql.session.timeZone"), type(now), now)
    if memo not in _NOW_CASTS:
        _NOW_CASTS[memo] = (
            spark.createDataFrame(pa.table({"x": [0]}))
            .select(F.unix_micros(F.lit(now).cast("timestamp")))
            .collect()[0][0]
        )
    return _NOW_CASTS[memo]


def merge_upsert_arrow(target, updates, key: str, now_us: int):
    """`merge_upsert` on the driver, over pyarrow tables: the same rows
    and the same columns in the same order. `target` is None for an
    empty slice. Every column that feeds an output column must already
    carry that output column's Arrow type; the caller checks this
    against the Spark form's schema. `now_us` is the stamp in UTC
    microseconds (`now_micros`).

    Acero joins cannot carry nested payloads, so the full-outer join
    runs over (key, row index) pairs only and each side's rows are
    then taken by index. As in Spark, a NULL key matches nothing on
    either side, and a key repeated within the batch yields one row per
    batch row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    now = pa.scalar(now_us, pa.timestamp("us", tz="UTC"))
    u_cols = [c for c in updates.column_names if c != key and c not in AUDIT_COLS]
    if target is None:
        stamp = pa.repeat(now, updates.num_rows)
        return pa.Table.from_arrays(
            [updates[key], *[updates[c] for c in u_cols], stamp, stamp],
            names=[key, *u_cols, *AUDIT_COLS],
        )
    t_cols = [c for c in target.column_names if c != key and c not in AUDIT_COLS]
    pairs = pa.table(
        {key: target[key], "__t": np.arange(target.num_rows)}
    ).join(
        pa.table({key: updates[key], "__u": np.arange(updates.num_rows)}),
        key, join_type="full outer",
    )
    ti, ui = (pairs[c].combine_chunks() for c in ("__t", "__u"))
    t = target.select(
        [c for c in target.column_names if c != key]
    ).take(ti)
    u = updates.select(u_cols).take(ui)
    names, cols = [key], [pairs[key]]
    for c in t_cols:
        names.append(c)
        cols.append(pc.coalesce(u[c], t[c]) if c in u_cols else t[c])
    for c in u_cols:
        if c not in t_cols:
            names.append(c)
            cols.append(u[c])
    cols.append(
        pc.coalesce(t["created_at"], now)
        if "created_at" in t.column_names else pa.repeat(now, len(ti))
    )
    cols.append(
        pc.if_else(ui.is_valid(), now, t["updated_at"])
        if "updated_at" in t.column_names else pa.repeat(now, len(ti))
    )
    return pa.Table.from_arrays(cols, names=names + list(AUDIT_COLS))


def merge_upsert_deletes(
    target: DataFrame | None,
    updates: DataFrame,
    key: str = "id",
    deleted_col: str = "_deleted",
    now=None,
) -> DataFrame:
    """OP-MERGE with a delete leg: the Delta/Iceberg `MERGE INTO ...
    WHEN MATCHED AND u._deleted THEN DELETE` shape (the reference
    drops withdrawn entries the same way a feed retracts an id).

    `updates` rows with `deleted_col` true are tombstones: their keys
    are removed from the result (whether or not they exist in the
    target — deleting an absent key is a no-op, keeping the operator
    idempotent). All other rows upsert exactly as `merge_upsert`.

    Shape: the upsert is the same single full-outer join; tombstone
    removal is a left-anti join against the (tiny) tombstone key set —
    at 100 TB the tombstone relation is the day's retractions, orders
    of magnitude below the corpus, so the anti join is a broadcast in
    practice (left unhinted — AQE decides). A later upsert of the same
    key re-inserts it: delete is not a permanent blacklist, matching
    MERGE semantics.

    A NULL flag means not-deleted (dirty CDC feeds omit the column for
    plain upserts): the flag is coalesced to false first, so NULL rows
    take the live leg instead of vanishing from both."""
    d = F.coalesce(F.col(deleted_col), F.lit(False))
    tombs = updates.filter(d).select(key)
    live = updates.filter(~d).drop(deleted_col)
    merged = merge_upsert(target, live, key=key, now=now)
    return merged.join(tombs, key, "left_anti")


def _holds_map(t) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _holds_map(t.elementType)
    if isinstance(t, StructType):
        return any(_holds_map(f.dataType) for f in t.fields)
    return False


def _orderable(c, t):
    """Column `c` of Spark type `t` in a form `<=>` compares: Spark
    orders no map, so each map, at any depth, becomes its entries
    sorted by key (two maps are equal exactly when those are); `c`
    itself when `t` holds no map."""
    from pyspark.sql.types import ArrayType, MapType

    if not _holds_map(t):
        return c
    if isinstance(t, MapType):
        return F.array_sort(F.transform(F.map_entries(c), lambda e: F.struct(
            _orderable(e["key"], t.keyType).alias("key"),
            _orderable(e["value"], t.valueType).alias("value"),
        )))
    if isinstance(t, ArrayType):
        return F.transform(c, lambda x: _orderable(x, t.elementType))
    return F.when(c.isNotNull(), F.struct(*[
        _orderable(c[f.name], f.dataType).alias(f.name) for f in t.fields
    ]))


def table_diff(
    v1: DataFrame, v2: DataFrame, key: str | list[str] = "id"
) -> DataFrame:
    """Row-level snapshot diff: the change-data-feed between two table
    versions (Delta CDF computed rather than logged).

    Returns (key cols, payload-from-the-surviving-side, change) with
    change in {insert, update, delete} — nochange rows are dropped.
    `key` may be a single column or a COMPOSITE list (tables whose
    logical identity spans several columns, e.g. a keep-latest table
    keyed on (user_id, event_type)). A row whose key parts are all
    non-NULL is matched on its key, and a matched pair whose columns
    differ under `<=>` is an update (a column holding a map compares
    in `_orderable`'s form). A row with a NULL key part is
    identified by its whole content instead: it matches an equal row
    (`<=>` on every column, keys included) on the other side, so it is
    never an update, only an insert or a delete. The law tying this to
    the merge surface: applying the diff to v1 through the generic
    `apply_change_feed` reproduces v2 exactly when non-NULL keys are
    unique per side and no side holds two equal rows with a NULL key
    part (tested in test_merge_laws and tests/test_feed_local.py); one
    key-partitioned full-outer join, bucketable to exchange-free at
    scale. `table_diff_arrow` is its driver-side twin over pyarrow
    tables, which small versioned change feeds use."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = [c for c in v1.columns if c not in keys and c in v2.columns]
    cond = keyed = same = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
        keyed = keyed & F.col(f"a.{k}").isNotNull()
    types = {f.name: f.dataType for f in v1.schema.fields}
    for c in cols:
        same = same & _orderable(F.col(f"a.{c}"), types[c]).eqNullSafe(
            _orderable(F.col(f"b.{c}"), types[c])
        )
    # the side markers say which side a joined row came from: a key
    # column cannot, since a key part may be NULL on a matched row
    j = v1.withColumn("__a", F.lit(True)).alias("a").join(
        v2.withColumn("__b", F.lit(True)).alias("b"),
        cond & (keyed | same), "full_outer",
    )
    survived_b = F.col("b.__b").isNotNull()
    change = (
        F.when(F.col("a.__a").isNull(), "insert")
        .when(~survived_b, "delete")
        .when(~same, "update")
        .otherwise("nochange")
    )
    # payload is the SURVIVING ROW's value, decided per row (b side
    # unless the row was deleted), never per column: a per-column
    # coalesce would resurrect the old value wherever an update
    # legitimately nulled a column, breaking the apply-exactness law
    return (
        j.select(
            *[
                F.when(survived_b, F.col(f"b.{c}"))
                .otherwise(F.col(f"a.{c}"))
                .alias(c)
                for c in keys + cols
            ],
            change.alias("change"),
        )
        .filter(F.col("change") != "nochange")
    )


def _distinct_from(a, b):
    """`NOT (a <=> b)` per row of two same-typed Arrow arrays, as Spark
    orders values: NULL equals NULL at any depth, NaN equals NaN and
    -0.0 equals 0.0; structs compare field by field, lists by length
    and then element by element. Never NULL. Maps are not compared: the
    feed gate leaves them to `table_diff`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    an, bn = a.is_null(), b.is_null()
    both = pc.and_(pc.invert(an), pc.invert(bn))
    t = a.type
    if pa.types.is_struct(t):
        inner = pa.repeat(False, len(a))
        for j in range(t.num_fields):
            inner = pc.or_(inner, _distinct_from(a.field(j), b.field(j)))
    elif pa.types.is_list(t):
        la, lb = pc.list_value_length(a), pc.list_value_length(b)
        inner = pc.fill_null(pc.not_equal(la, lb), False)
        # rows whose lists both exist with one length: their flattened
        # values line up element by element
        same = pc.and_(both, pc.invert(inner))
        a2, b2 = a.filter(same), b.filter(same)
        hit = _distinct_from(a2.flatten(), b2.flatten())
        rows = np.zeros(len(a2), dtype=bool)
        rows[pc.list_parent_indices(a2).filter(hit).to_numpy()] = True
        inner = pc.replace_with_mask(inner, same, pa.array(rows))
    elif pa.types.is_floating(t):
        inner = pc.and_(
            pc.not_equal(a, b), pc.invert(pc.and_(pc.is_nan(a), pc.is_nan(b)))
        )
    else:
        inner = pc.not_equal(a, b)
    return pc.or_(pc.xor(an, bn), pc.fill_null(pc.and_(both, inner), False))


def table_diff_arrow(v1, v2, keys: list[str]):
    """`table_diff` on the driver, over two pyarrow tables with the same
    columns and types: the same rows, with the key columns first, then
    v1's other columns in order, then `change` (NULL-free). Key columns
    must be string or integer columns, the types an Acero join matches
    exactly as Spark's equi-join does.

    Acero joins cannot carry nested payloads and match no NULL key, so
    the join runs over each key part with its NULLs filled plus a
    NULL flag per part (Spark's `<=>` on the key), and the row index of
    each side; each side's rows are then taken by index. As in
    `table_diff`, a pair whose key holds a NULL part is a match only
    when every column is equal under `<=>` (`_distinct_from`), a
    matched pair is an update when some column differs, an unmatched
    row is an insert or a delete, and the payload is the surviving
    row's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = [c for c in v1.column_names if c not in keys]
    flags = [f"__null_{k}" for k in keys]

    def side(t, idx: str):
        out = {idx: np.arange(t.num_rows)}
        for k, nk in zip(keys, flags):
            c = t[k].combine_chunks()
            out[k] = pc.fill_null(c, "" if pa.types.is_string(c.type) else 0)
            out[nk] = c.is_null().cast(pa.int8())
        return pa.table(out)

    pairs = side(v1, "__a").join(
        side(v2, "__b"), keys + flags, join_type="inner"
    )
    ia, ib = (pairs[c].combine_chunks() for c in ("__a", "__b"))
    differs = pa.repeat(False, len(ia))
    for c in cols:
        differs = pc.or_(
            differs,
            _distinct_from(v1[c].take(ia).combine_chunks(),
                           v2[c].take(ib).combine_chunks()),
        )
    keyless = pa.repeat(False, len(ia))
    for nk in flags:
        keyless = pc.or_(keyless, pc.equal(pairs[nk].combine_chunks(), 1))
    match = pc.invert(pc.and_(keyless, differs))
    ia, ib, upd = ia.filter(match), ib.filter(match), differs.filter(match)
    gone = np.ones(v1.num_rows, dtype=bool)
    gone[ia.to_numpy()] = False
    new = np.ones(v2.num_rows, dtype=bool)
    new[ib.to_numpy()] = False
    # the payload is the surviving row's, taken from v1 ++ v2: v2's for
    # updates and inserts, v1's for deletes
    pick = np.concatenate([
        ib.filter(upd).to_numpy() + v1.num_rows,
        np.flatnonzero(gone),
        np.flatnonzero(new) + v1.num_rows,
    ])
    n_upd, n_del = len(pick) - int(gone.sum()) - int(new.sum()), int(gone.sum())
    change = pa.array(
        ["update"] * n_upd + ["delete"] * n_del + ["insert"] * int(new.sum()),
        pa.string(),
    )
    both = pa.concat_tables([v1.select(keys + cols), v2.select(keys + cols)])
    payload = both.take(pick)
    return pa.Table.from_arrays(
        [payload[c] for c in keys + cols] + [change],
        names=keys + cols + ["change"],
    )


def keep_latest_merge(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    order_by: list,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Upsert keeping, per key, the greatest row by `order_by`.

    The ST-3 late-data semantics: late records simply lose (or win)
    the per-key ordering — union + window, commutative across batch
    orderings, so replaying unordered chunks converges (tested as S3).

    `allow_missing_columns` null-pads a column-subset batch against
    the target (and vice versa) instead of throwing. Default False:
    for plain callers a missing or misspelled batch column is a bug,
    and null-padding it would let a winning batch row silently null
    out existing values — the strict union is the tripwire. The
    versioned layer passes True: its fold/MOR legs legitimately see
    schema-evolving batches, and it validates batch columns against
    the recorded table schema before reaching this union.
    """
    allrows = (
        updates
        if target is None
        else target.unionByName(
            updates, allowMissingColumns=allow_missing_columns
        )
    )
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        allrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------- atomic swap
REPLICA_META = "_REPLICA_META.json"


def write_atomic(df: DataFrame, path: str, meta: dict | None = None) -> None:
    """Write-new-then-swap directory protocol (OP-MERGE atomicity
    without Delta): materialize to a temp dir beside the target (same
    filesystem — os.rename cannot cross mounts), then swap.

    Directories can't be renamed over each other on POSIX, so the swap
    is two renames (target→old, tmp→target) and there IS a crash
    window between them in which `path` is briefly absent — this is a
    two-rename swap, not a true atomic replace. Recovery is mechanical:
    the displaced table survives as `path.old-*` and `read_target`
    probes for it, so no committed data is ever lost; readers see the
    old table, the new table, or (crash window only) the recoverable
    old directory — never a partial write. On HDFS/S3/production the
    same protocol is a manifest pointer swap or Delta's atomic log
    commit, both of which close the window.

    `meta` (optional) is written as `_REPLICA_META.json` INSIDE the
    temp dir before the swap — underscore-prefixed, so Spark's file
    listing ignores it — making (data + metadata) one atomic unit.
    This is what a CDC replica consumer needs: its applied-version
    checkpoint must travel WITH the replica content, because a
    checkpoint stored beside the data reopens a crash window in which
    the replica holds version N's rows while the checkpoint says M —
    and a key reverted between M and N (A-B-A) is then classified
    nochange by the redelivered feed, leaving the replica permanently
    stale (see streaming/jobs.py::feed_replica)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if meta is not None:
        # inside the unpublished dir: publish_dir below fsyncs it
        with open(os.path.join(tmp, REPLICA_META), "w") as f:
            json.dump(meta, f)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        fsio.publish_dir(path, old)  # move the live table aside
    fsio.publish_dir(tmp, path)
    fsio.discard(old)


def read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the swap-protocol target, recovering from a crash that
    happened between write_atomic's two renames (target displaced to
    `path.old-*` but the new directory not yet renamed in)."""
    if not os.path.exists(path):
        import glob as _glob

        leftovers = sorted(_glob.glob(f"{path}.old-*"), key=os.path.getmtime)
        if leftovers:
            return spark.read.parquet(leftovers[-1])
        return None
    return spark.read.parquet(path)


def read_replica_meta(path: str) -> dict | None:
    """The metadata `write_atomic(meta=...)` co-located with the data
    (or None when absent): for a CDC replica this is the ONLY truthful
    applied-version source — it moved in the same rename as the rows
    it describes, so it can never be stale relative to them."""
    p = os.path.join(path, REPLICA_META)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


# ------------------------------------------- versioned snapshot sink
def write_versioned(df: DataFrame, path: str, max_retries: int = 64) -> int:
    """Manifest-pointer snapshot sink: the atomic-replace upgrade of
    `write_atomic`, plus time travel, safe under CONCURRENT writers.

    Each write lands in an immutable `path/v-<n>/` directory; commit is
    publishing the new version name into the `path/_LATEST` pointer
    FILE via os.replace — and replacing a *file* over an existing file
    IS atomic on POSIX, so the crash window `write_atomic`'s two
    directory renames leave open does not exist here: a reader sees
    the old pointer or the new pointer, never no pointer and never a
    partial table. This is the same design as Delta/Iceberg commits
    (data immutable, one tiny atomic pointer/log write), scaled down
    to a filesystem.

    Concurrency protocol (the CAS the optimistic Delta/Iceberg commit
    performs against its log store):
    1. version ALLOCATION — a writer claims `v-<n>` by O_CREAT|O_EXCL
       on `v-<n>.claim`; exactly one racer wins each number, losers
       re-scan (claims count as taken) and take the next one. A claim
       that crashed before writing data blocks nothing: readers only
       resolve through the pointer, and later writers allocate past it.
    2. pointer ADVANCE — under an flock'd `_COMMITLOCK`, the pointer
       is replaced only if the new version is HIGHER than the current
       one, so two successful commits publish the max and neither
       unpublishes the other (both version dirs remain readable via
       time travel either way).
    Returns the committed version number; raises after `max_retries`
    lost allocation races (never silently drops a write)."""
    os.makedirs(path, exist_ok=True)
    for _ in range(max_retries):
        taken = _taken_versions(path)
        v = (max(taken) if taken else 0) + 1
        claim = os.path.join(path, f"v-{v}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race for this number — re-scan
        os.close(fd)
        df.write.mode("errorifexists").parquet(os.path.join(path, f"v-{v}"))
        _advance_pointer(path, v)
        return v
    raise RuntimeError(
        f"write_versioned: lost {max_retries} allocation races under {path}"
    )


def _advance_pointer(path: str, v: int) -> None:
    """Atomically publish `v` into `_LATEST` iff it is higher than the
    currently-published version (monotonic commit under an flock, so a
    slower racer can never roll the pointer back)."""
    with fsio.locked(os.path.join(path, "_COMMITLOCK")):
        current = -1
        latest = os.path.join(path, "_LATEST")
        if os.path.exists(latest):
            with open(latest) as f:
                current = int(f.read().strip() or -1)
        if v <= current:
            return  # a newer version is already published
        with fsio.atomic_file(latest) as f:  # the atomic commit
            f.write(str(v))
        # stamp SUPERSESSION time for every older version that lacks
        # one (the just-displaced current, plus any never-published
        # orphan below v): vacuum's grace period counts from this
        # marker, so "age" means time since a version stopped being
        # resolvable as latest — the same clock Delta's
        # deletedFileRetentionDuration runs on — not time since it was
        # written. Only versions whose parquet job FINISHED (Spark's
        # _SUCCESS sentinel) are stampable: a racer's v-<old> directory
        # can exist while its write is still in flight, and stamping it
        # would start the vacuum grace clock on a version that is
        # mid-write — a write outlasting grace_seconds would then be
        # rmtree'd under the writer. An unfinished racer gets its
        # marker from whichever commit lands after it completes.
        for old in _list_versions(path):
            if old < v and os.path.exists(
                os.path.join(path, f"v-{old}", "_SUCCESS")
            ):
                marker = os.path.join(path, f"v-{old}.superseded")
                if not os.path.exists(marker):
                    with open(marker, "w") as mf:
                        mf.write(str(v))


def _taken_versions(path: str) -> list[int]:
    """Version numbers already allocated: committed/in-flight data dirs
    AND claim markers (a claim is taken even before its dir exists)."""
    if not os.path.isdir(path):
        return []
    out = set()
    for d in os.listdir(path):
        name = d[:-6] if d.endswith(".claim") else d
        if name.startswith("v-") and name[2:].isdigit():
            out.add(int(name[2:]))
    return sorted(out)


def _list_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d[2:]) for d in os.listdir(path)
        if d.startswith("v-") and d[2:].isdigit() and os.path.isdir(os.path.join(path, d))
    )


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the committed snapshot (or a pinned `version` — time
    travel). Uncommitted version directories (crash before the pointer
    replace) are invisible: only the pointer decides what is current."""
    if version is None:
        with open(os.path.join(path, "_LATEST")) as f:
            version = int(f.read().strip())
    return spark.read.parquet(os.path.join(path, f"v-{version}"))


def vacuum_versions(
    path: str, keep: int = 2, grace_seconds: float = 0.0
) -> list[int]:
    """Drop old versions, never the committed one, never a version
    still inside its post-supersession GRACE PERIOD.

    Retention contract (the gap between this sink and the
    Delta/Iceberg semantics it mirrors, closed): a reader that
    resolved `_LATEST` -> v-k holds no lock, so a concurrent vacuum
    could otherwise delete v-k mid-read after newer commits land. The
    rule production tables run (Delta's
    deletedFileRetentionDuration): a version becomes vacuum-eligible
    only `grace_seconds` AFTER it was superseded as latest (stamped
    by the committing writer under the commit lock — `v-N.superseded`
    marker mtime), and operators must set grace_seconds longer than
    their longest-running reader. A version with NO marker is never
    removed (it may be mid-commit or still current on a racing
    pointer). The default grace of 0 preserves reclaim-now semantics
    for tests and offline maintenance windows where no readers exist.

    `keep` additionally retains the newest `keep` versions outright,
    whatever their age. Returns the versions removed.

    Runs under the same `_COMMITLOCK` flock the pointer advance takes,
    so two concurrent vacuums serialize (each sees the other's
    removals before selecting) and a vacuum never interleaves with a
    pointer advance's supersession stamping; removals tolerate a
    missing path (`fsio.discard`), because a crashed vacuum can leave a
    half-removed state a later vacuum re-selects."""
    with fsio.locked(os.path.join(path, "_COMMITLOCK")):
        with open(os.path.join(path, "_LATEST")) as f:
            committed = int(f.read().strip())
        versions = _list_versions(path)
        now = time.time()
        doomed = []
        for v in versions[:-keep] if keep else []:
            if v == committed:
                continue
            marker = os.path.join(path, f"v-{v}.superseded")
            if not os.path.exists(marker):
                continue  # never superseded -> not provably dead
            if now - os.path.getmtime(marker) < grace_seconds:
                continue  # a reader may still be in its grace window
            doomed.append(v)
        for v in doomed:
            fsio.discard(os.path.join(path, f"v-{v}"))
            fsio.discard(os.path.join(path, f"v-{v}.superseded"))
    return doomed


# ------------------------------------------------------ bucket hashing
# The bucketed table (operators/merge_versioned.py) lays rows out as
# hash(key) buckets so a merge rewrites only the buckets its batch
# touches: the reference's per-key point writes
# (mongodb_handler.py:141-195) at file granularity. Its writes, its
# point lookups and the queries that pick keys by bucket share the one
# hash defined here; `_BUCKETS` records a table's key and bucket count.
BUCKET_META = "_BUCKETS"  # leading underscore: invisible to Spark scans


def bucket_expr(key: str, n_buckets: int) -> F.Column:
    """Deterministic bucket id: pmod(xxhash64(key-as-string), n).
    xxhash64 is a fixed algorithm (stable across sessions/versions), so
    every merge recomputes the same bucket for the same key."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets))


@functools.lru_cache(maxsize=1)
def _xxh64(jvm):
    """(UTF8String.fromString, XXH64.hashUTF8String) of one JVM. Each
    py4j attribute is a gateway round trip, so these are resolved once
    per JVM and reused by every lookup."""
    xxh = getattr(jvm, "org.apache.spark.sql.catalyst.expressions.XXH64")
    return (
        getattr(jvm, "org.apache.spark.unsafe.types.UTF8String").fromString,
        xxh.hashUTF8String,
    )


def bucket_of_value(spark: SparkSession, value, n_buckets: int) -> int:
    """The bucket id of ONE literal key — the same xxhash64/pmod as
    bucket_expr, computed by Spark's own code so point lookups can
    never drift from the write path's bucketing (there is exactly one
    implementation of the hash).

    A `str` key, or an `int` in the signed 64-bit range (never a
    `bool`), casts to the string it prints as, so its hash is Spark's
    XXH64 of that string's UTF-8 bytes with xxhash64's seed 42, called
    on the driver over py4j: two gateway calls and no Spark job.
    Python's `%` with a positive width equals `pmod`. Every other type
    (bool, float, Decimal, date, out-of-range int, ...) is cast by
    Spark on a 1-row frame, which runs one job."""
    if type(value) is str or (type(value) is int and -(2**63) <= value < 2**63):
        from_string, hash_utf8 = _xxh64(spark._jvm)
        return hash_utf8(from_string(str(value)), 42) % n_buckets
    return (
        spark.range(1)
        .select(
            F.pmod(
                F.xxhash64(F.lit(value).cast("string")),
                F.lit(n_buckets),
            ).alias("b")
        )
        .collect()[0][0]
    )


def merge_many(
    batches: dict[str, DataFrame],
    key: str = "id",
    now=None,
) -> DataFrame:
    """Single-shuffle multi-source merge.

    Folding `merge_upsert` runs one full-outer join per source — k
    shuffles for k sources, and (because full-outer output loses its
    partitioning guarantee) none of them reuse the previous exchange.
    When each source contributes one batch per run (the reference's
    nightly job shape, main.py:64-89), the same wide row can be built
    with ONE shuffle: tag rows by source, union, and groupBy(key)
    taking each source's payload with first(ignorenulls) — exactly one
    non-null candidate per (key, source), so the result is
    deterministic and equals the merge_upsert fold (tested).
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    srcs = list(batches)
    types = {s: dict(df.dtypes)[s] for s, df in batches.items()}
    tagged = []
    for s, df in batches.items():
        cols = [F.col(key)] + [
            (F.col(c) if c == s else F.lit(None).cast(types[c])).alias(c)
            for c in srcs
        ]
        tagged.append(df.select(*cols))
    allrows = tagged[0]
    for t in tagged[1:]:
        allrows = allrows.unionByName(t)
    aggs = [F.first(s, ignorenulls=True).alias(s) for s in srcs]
    return (
        allrows.groupBy(key)
        .agg(*aggs)
        .withColumn("created_at", now_col)
        .withColumn("updated_at", now_col)
    )
