"""Versioned bucket table: cross-bucket atomic scoped merges + time travel.

Composes two properties no simpler sink has at once:

* bucket scoping — merge cost ∝ batch: rows live in hash(key) buckets
  (`merge.bucket_expr`) and a merge rewrites only the buckets its
  batch touches. Swapping those bucket directories in place would
  commit one bucket at a time: a reader scanning during a
  multi-bucket merge could observe bucket 3 post-merge and bucket 7
  pre-merge, and a crash mid-swap would leave that mix on disk.
* `merge.write_versioned` — an atomic pointer commit with time
  travel, but each version is a full snapshot: write cost ∝ table.

This module gives both properties at once — the production story a
cluster user doing concurrent scoped merges plus time travel needs
(the reference's point-update economics, mongodb_handler.py:141-195,
under a snapshot-isolation commit). Same design as Delta/Iceberg:
data files are IMMUTABLE, commits only add files and atomically
publish a new manifest.

Layout under `path/`:
    _BUCKETS                   layout meta {key, n_buckets, versioned,
                               constraints?, mor_fold?}
    _LATEST                    the committed version number (pointer FILE)
    _COMMITLOCK / _MERGELOCK   flock files (pointer advance / merger serialization)
    v-<n>.json                 immutable manifest ROOT: {format: 2, n_buckets,
                               shard_size, shards: {shard -> {f, r|ids,
                               cols?}}, schema, op, committed_at} — or a
                               delta root {root_base: n-1, shards_set,
                               shards_del?} resolved against its base
    _manifest/ms-<hex>.json    immutable content-addressed shard: for the
                               buckets [s*shard_size, (s+1)*shard_size)
                               {buckets: {id -> generation dir}, stats?,
                               dv?: {id -> [{n, d}]} (ordinal-scoped deletion
                               vectors), deltas?: {id -> [{g, stats}]}
                               (merge-on-read delta chains)}
    v-<n>.superseded           vacuum grace marker (stamped when displaced)
    _HISTORY.jsonl             commit log (one line per commit; O(1)/line history)
    bucket=<i>/g-<hex>/        immutable per-bucket generation (parquet);
                               Spark writes it, or pyarrow on the driver when
                               `_slice_gate` admits the write (small,
                               unsorted), as for small default upserts,
                               which also merge on the driver; small
                               change feeds read and diff there too. The
                               one base layout at every bucket count
    dv-<hex>/                  deletion-vector key sets (parquet, Spark)

Write protocols on top of the manifest-pointer commit:
    merge_scoped_versioned      copy-on-write (touched buckets rewritten)
    merge_scoped_versioned_occ  same, multi-writer OPTIMISTIC concurrency
                                (work lock-free; disjoint writers rebase)
    merge_scoped_versioned_mor  merge-on-read (batch lands as delta
                                generations; reads fold — per-column
                                ordinal coalesce, or whole-row keep-latest
                                under a recorded mor_fold policy); occ=True
                                for concurrent ingestion
    merge_deletes_dv            deletes as ordinal-scoped deletion vectors
    compact_versioned           folds deltas+DVs back to single generations
    optimize_versioned          clustered/z-ordered layout (file-grain skipping)
    rebucket_versioned          online layout migration

A scoped merge writes NEW generation dirs for the touched buckets only
(never mutating an existing one), writes manifest v-(n+1) mapping the
touched buckets to the new generations and every untouched bucket to
its previous generation, then atomically replaces `_LATEST`. Readers
resolve the pointer -> one manifest -> one consistent set of
generations: they see all of a merge or none of it, a crash anywhere
before the pointer replace is invisible, and every prior version stays
readable until vacuumed. Merge write cost stays ∝ batch: untouched
buckets are carried by manifest REFERENCE, zero bytes copied.
"""

from __future__ import annotations

import contextlib
import json
import logging
import math
import os
import threading
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fsio
from .merge import (
    BUCKET_META,
    bucket_expr,
    merge_upsert,
    merge_upsert_deletes,
)


def _manifest_path(path: str, v: int) -> str:
    return os.path.join(path, f"v-{v}.json")


def _list_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v-") and d.endswith(".json"):
            mid = d[2:-5]
            if mid.isdigit():
                out.append(int(mid))
    return sorted(out)


def latest_version(path: str) -> int:
    with open(os.path.join(path, "_LATEST")) as f:
        return int(f.read().strip())


def _resolve_version(path: str, version: int | None) -> int:
    """Resolve a user version against the COMMITTED pointer — every
    read surface must go through this: a manifest file alone is not
    history (a merger that died between its manifest write and its
    pointer replace leaves one), so any version beyond the pointer is
    rejected, never read."""
    committed = latest_version(path)
    if version is None:
        return committed
    if version > committed:
        raise ValueError(
            f"version {version} of {path} is not committed "
            f"(latest={committed})"
        )
    return version


def _load_manifest(path: str, v: int) -> dict[str, str]:
    return _load_manifest_full(path, v)["buckets"]


# ------------------------------------------------ sharded manifests
# A monolithic full-snapshot manifest grows with TABLE WIDTH, not
# change size: at 4096 buckets every commit rewrote a ~1.9 MB JSON
# (MANIFESTBENCH_4096 — 300 commits = 564 MB of manifests) and a point
# lookup parsed all of it. The manifest format (2) therefore splits the
# bucket-level payload (buckets/stats/dv/deltas) into per-bucket-range
# SHARD files under `_manifest/`, content-addressed by payload hash,
# referenced from a small root `v-N.json` that also carries per-shard
# column-bound rollups — the Iceberg manifest-list / Delta-checkpoint
# shape:
#   * commit bytes ∝ touched shards (unchanged shards are carried as
#     the same file reference — same content, same hash, no write);
#   * a point lookup loads root + ONE shard (O(touched), not O(width));
#   * a bounded range scan skips whole shards by the root rollups
#     before per-bucket stats are even loaded.
# It is the only format: every width writes it, and a root without
# "format": 2 is rejected at load instead of being misread.
MANIFEST_DIR = "_manifest"
MANIFEST_FORMAT = 2


def _table_meta(path: str) -> dict:
    try:
        with open(os.path.join(path, BUCKET_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _shard_size_for(n_buckets: int) -> int:
    """Buckets per manifest shard: ⌈√n⌉, so a root holds ~√n shard
    entries and each shard ~√n buckets — root and one-shard loads both
    grow as √width (4 at 16 buckets, 64 at 4096)."""
    return math.isqrt(n_buckets - 1) + 1


# root delta-chain: a commit may write its root as a DELTA against the
# previous version's root ("root_base": v-1 plus only the changed shard
# entries) instead of repeating every shard reference — at 16384
# buckets the full root rollup was ~105 KB/commit regardless of how
# little the commit touched (MANIFESTBENCH_16384: 194 KB total per
# manifest), the one storage term that grew with table WIDTH instead of
# change size. A full checkpoint root lands every ROOT_CKPT_EVERY
# versions so chain resolution stays O(interval).
ROOT_CKPT_EVERY = 16


def _write_parquet(table, dst: str) -> None:
    """Write one Arrow table as a parquet file that Spark reads exactly
    as one of its own: snappy, and timestamps as INT64 microseconds,
    never INT96 or NANOS. A `timestamp[us, UTC]` column (the Arrow form
    of TimestampType) is stored with isAdjustedToUTC=true, a naive one
    (TimestampNTZType) with false. Files carry no Arrow schema blob:
    the parquet logical types already say everything a reader needs."""
    import pyarrow.parquet as pq

    pq.write_table(
        table, dst, compression="snappy", coerce_timestamps="us",
        store_schema=False,
    )


def _arrow_schema(schema):
    """The Arrow schema of Spark `schema` as `toArrow()` returns it, or
    None for a schema pyarrow cannot carry or cannot store as Spark
    does: void, day-time intervals, variants and user-defined types
    convert to Arrow, but not to parquet columns Spark reads back as
    the same type."""
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        ArrayType, DayTimeIntervalType, MapType, NullType, StructType,
        UserDefinedType, VariantType,
    )

    def stored_as_spark(t) -> bool:
        if isinstance(t, StructType):
            return all(stored_as_spark(f.dataType) for f in t.fields)
        if isinstance(t, ArrayType):
            return stored_as_spark(t.elementType)
        if isinstance(t, MapType):
            return stored_as_spark(t.keyType) and stored_as_spark(t.valueType)
        return not isinstance(
            t, (NullType, DayTimeIntervalType, VariantType, UserDefinedType)
        )

    if not stored_as_spark(schema):
        return None
    try:
        return to_arrow_schema(
            schema, error_on_duplicated_field_names_in_struct=True
        )
    except PySparkException:
        return None


def _gen_data_path(path: str, i, g: str) -> str:
    """Directory of bucket i's generation `g`: `bucket=<i>/<gen>`."""
    return f"{path}/bucket={i}/{g}"


def _load_root_raw(path: str, v: int) -> dict:
    mpath = _manifest_path(path, v)
    with open(mpath) as f:
        m = json.load(f)
    if m.get("format") != MANIFEST_FORMAT:
        raise ValueError(
            f"{mpath} is not a format-{MANIFEST_FORMAT} manifest root "
            f"(format={m.get('format')!r}); monolithic manifests are no "
            "longer readable — rebuild the table from its source"
        )
    return m


def _resolve_root(path: str, v: int) -> dict:
    m = _load_root_raw(path, v)
    if "root_base" not in m:
        return m
    # delta root: walk the chain down to the nearest checkpoint, then
    # replay the per-version shard-entry changes oldest-first. Chains
    # are contiguous (root_base is always v-1), bounded by the
    # checkpoint cadence.
    chain = [m]
    mb = m
    while "root_base" in mb:
        mb = _load_root_raw(path, mb["root_base"])
        chain.append(mb)
    shards = dict(mb["shards"])
    for d in reversed(chain[:-1]):
        for k in d.get("shards_del") or []:
            shards.pop(k, None)
        shards.update(d["shards_set"])
    out = {
        k: val
        for k, val in m.items()
        if k not in ("root_base", "shards_set", "shards_del")
    }
    out["shards"] = shards
    return out


def _load_root(path: str, v: int) -> dict:
    """The RESOLVED v-N.json: the small root (full shard-reference map
    + rollups + schema — delta-chain roots resolve transparently).
    Retries once on a missing chain link: vacuum materializes every
    surviving delta root whose base it reclaims BEFORE deleting
    anything, so a reader that raced the unlink finds the re-read
    root already self-contained."""
    try:
        return _resolve_root(path, v)
    except FileNotFoundError:
        return _resolve_root(path, v)


# parsed-shard cache: shard files are IMMUTABLE (content-addressed by
# payload hash), so a parse is valid forever — a commit loop that
# full-loads the latest manifest per merge re-parses only the shards
# the previous commit changed. Entries are shared dicts: consumers
# treat shard payloads as read-only (every mutator in this module
# copies before writing — every write-surface law that re-reads its
# table is the tripwire). Bounded FIFO: ~the working set of a few
# versions.
# Mutations are lock-guarded: concurrent OCC/MOR writer threads are a
# supported pattern (catalog_txn_occ runs member actions on real
# threads), and an unguarded evict could race two threads into
# popping the same first key — the second pop raising KeyError
# mid-commit. Reads stay lock-free (dict get is atomic under the GIL;
# a miss just re-parses an immutable file).
_SHARD_CACHE: dict[str, dict] = {}
_SHARD_CACHE_MAX = 1024
_SHARD_CACHE_LOCK = threading.Lock()


def _load_shard(path: str, fname: str) -> dict:
    fpath = os.path.join(path, MANIFEST_DIR, fname)
    sub = _SHARD_CACHE.get(fpath)
    if sub is None:
        with open(fpath) as f:
            sub = json.load(f)
        # every read, commit and vacuum resolves bucket entries through
        # here: an "@pg-<hex>/..." entry of the removed packed layout
        # would otherwise be joined into a bucket directory path
        for i, g in (sub.get("buckets") or {}).items():
            if g.startswith("@"):
                raise ValueError(
                    f"{fpath}: bucket {i} is in the removed packed "
                    f"layout ({g!r}); rebuild the table from its source"
                )
        with _SHARD_CACHE_LOCK:
            while len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
                _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)), None)
            _SHARD_CACHE[fpath] = sub
    return sub


def _assemble_shards(path: str, root: dict, shard_keys: set | None) -> dict:
    """Materialize a root into the full-manifest shape, loading only
    `shard_keys` (None = all). The raw root rides along as "_root" so
    commit assembly can carry unchanged shard files by reference. The
    result is PARTIAL when shard_keys is given — sound only for
    consumers that touch the requested buckets."""
    full = {k: v2 for k, v2 in root.items() if k != "shards"}
    full["_root"] = root
    buckets: dict = {}
    stats: dict = {}
    dv: dict = {}
    deltas: dict = {}
    for s in sorted(root["shards"], key=int):
        if shard_keys is not None and s not in shard_keys:
            continue
        sub = _load_shard(path, root["shards"][s]["f"])
        buckets.update(sub.get("buckets") or {})
        stats.update(sub.get("stats") or {})
        dv.update(sub.get("dv") or {})
        deltas.update(sub.get("deltas") or {})
    full["buckets"] = buckets
    if stats:
        full["stats"] = stats
    if dv:
        full["dv"] = dv
    if deltas:
        full["deltas"] = deltas
    return full


def _slice_from_root(path: str, root: dict, bucket_ids) -> dict:
    """Full-manifest-shaped dict covering (at least) `bucket_ids`
    (None = everything): only the covering shards load."""
    want = None
    if bucket_ids is not None:
        size = root["shard_size"]
        want = {str(int(i) // size) for i in bucket_ids}
    return _assemble_shards(path, root, want)


def _load_manifest_full(path: str, v: int) -> dict:
    """The whole manifest: {v, n_buckets, buckets, [stats/dv/deltas/
    schema/...]}. Each manifest carries ITS OWN bucket count —
    re-bucketing (rebucket_versioned) is just another committed
    version, so time travel across a layout change resolves each
    version under the layout it was written with. The root's shards
    assemble transparently."""
    return _slice_from_root(path, _load_root(path, v), None)


def _load_manifest_slice(path: str, v: int, bucket_ids) -> dict:
    """Partial manifest covering `bucket_ids` — the point-lookup /
    pruned-scan loader: root + only the shards those buckets live in,
    O(touched) instead of O(table width)."""
    return _slice_from_root(path, _load_root(path, v), bucket_ids)


def _shard_rollup(sub: dict) -> dict:
    """Per-column combined bounds over EVERY generation (base +
    merge-on-read deltas) of every bucket in a shard payload — the
    root-level skipping entry that lets a bounded scan drop whole
    shards without loading them. A column appears only when every
    generation carries usable stats for it (absent stats must never
    skip — the same conservatism as bucket grain); mixed stat tags
    drop the column; all-null generations are neutral for bounds and
    alone yield {"t": "null"}. Sound because shard exclusion by the
    combined bounds implies every generation excludes individually."""
    import decimal

    stats = sub.get("stats") or {}
    deltas = sub.get("deltas") or {}
    entries = []
    for i in sub.get("buckets") or {}:
        st = stats.get(i)
        if st is None:
            return {}  # a bucket with no stats: nothing skips
        entries.append(st)
        for d in deltas.get(i, []):
            ds = d.get("stats")
            if ds is None:
                return {}
            entries.append(ds)
    if not entries:
        return {}
    common = set(entries[0].get("cols") or {})
    for e in entries[1:]:
        common &= set(e.get("cols") or {})
    out: dict = {}
    for c in sorted(common):
        t = None
        lo = hi = None
        ok = True
        for e in entries:
            s = e["cols"][c]
            if s["t"] == "null":
                continue  # contributes no bounds (and excludes anyway)
            if t is None:
                t, lo, hi = s["t"], s["lo"], s["hi"]
            elif s["t"] != t:
                ok = False
                break
            elif t == "dec":
                if decimal.Decimal(s["lo"]) < decimal.Decimal(lo):
                    lo = s["lo"]
                if decimal.Decimal(s["hi"]) > decimal.Decimal(hi):
                    hi = s["hi"]
            else:
                lo = min(lo, s["lo"])
                hi = max(hi, s["hi"])
        if not ok:
            continue
        out[c] = {"t": "null"} if t is None else {"t": t, "lo": lo, "hi": hi}
    return out


def _write_manifest_shards(
    path: str, buckets: dict, stats: dict | None, dv: dict | None,
    deltas: dict | None, n_buckets: int, shard_size: int,
    base_full: dict | None, changed: set | None,
) -> dict:
    """Write (or reuse) the shard files for one commit and return the
    root's shards map. A shard whose bucket range contains no
    `changed` bucket carries the BASE manifest's entry verbatim — same
    content, same file, zero bytes written; `changed=None` rebuilds
    everything (the safe default). Shard files are content-addressed
    (payload hash), so even a rebuilt-identical shard lands on the
    existing file. CALLER CONTRACT: `changed` must contain every
    bucket whose entry in ANY of buckets/stats/dv/deltas differs from
    `base_full` — a missed bucket would carry a stale shard, and every
    write-surface law that re-reads its table would see the old
    entry."""
    import hashlib

    stats = stats or {}
    dv = dv or {}
    deltas = deltas or {}
    mdir = os.path.join(path, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    by_shard: dict[int, list] = {}
    for i in set(buckets) | set(stats) | set(dv) | set(deltas):
        by_shard.setdefault(int(i) // shard_size, []).append(i)
    base_shards = None
    base_root = (base_full or {}).get("_root")
    if (
        changed is not None
        and base_root is not None
        and base_root.get("shard_size") == shard_size
        and base_root.get("n_buckets") == n_buckets
    ):
        base_shards = base_root["shards"]
    changed_sh = (
        {int(b) // shard_size for b in changed}
        if changed is not None
        else None
    )
    shards: dict[str, dict] = {}
    for s in sorted(by_shard):
        ids = by_shard[s]
        key_s = str(s)
        if (
            base_shards is not None
            and s not in changed_sh
            and key_s in base_shards
        ):
            shards[key_s] = base_shards[key_s]
            continue
        sub: dict = {"buckets": {i: buckets[i] for i in ids if i in buckets}}
        part = {i: stats[i] for i in ids if i in stats}
        if part:
            sub["stats"] = part
        part = {i: dv[i] for i in ids if i in dv}
        if part:
            sub["dv"] = part
        part = {i: deltas[i] for i in ids if i in deltas}
        if part:
            sub["deltas"] = part
        blob = json.dumps(sub, sort_keys=True, separators=(",", ":"))
        h = hashlib.sha256(blob.encode()).hexdigest()[:20]
        fname = f"ms-{h}.json"
        fpath = os.path.join(mdir, fname)
        if not os.path.exists(fpath):
            with fsio.atomic_file(fpath) as f:
                f.write(blob)
        entry: dict = {"f": fname}
        ids_sorted = sorted(int(i) for i in sub["buckets"])
        if ids_sorted and ids_sorted == list(
            range(ids_sorted[0], ids_sorted[-1] + 1)
        ):
            # dense shard (every bucket occupied — the common case on
            # a loaded table): O(1) range instead of an O(shard_size)
            # id list, so the root stays O(n_shards) not O(n_buckets)
            entry["r"] = [ids_sorted[0], ids_sorted[-1]]
        else:
            entry["ids"] = ids_sorted
        roll = _shard_rollup(sub)
        if roll:
            entry["cols"] = roll
        shards[key_s] = entry
    return shards


def _entry_ids(e: dict) -> list[int]:
    """Bucket ids a root shard entry covers — explicit list ("ids") or
    dense range ("r"), whichever the writer chose."""
    if "ids" in e:
        return e["ids"]
    lo, hi = e["r"]
    return list(range(lo, hi + 1))


HISTORY_LOG = "_HISTORY.jsonl"


def _write_manifest(
    path: str, v: int, buckets: dict[str, str], n_buckets: int,
    schema: dict | None = None, stats: dict | None = None,
    op: str | None = None, dv: dict | None = None,
    deltas: dict | None = None, dead_phys: list | None = None,
    base_full: dict | None = None, changed: set | None = None,
) -> float:
    m: dict = {
        "v": v,
        "n_buckets": n_buckets,
        # wall-clock commit stamp for timestamp AS-OF resolution; the
        # version number stays the exact watermark (no clock surface),
        # this is the human-facing convenience on top
        "committed_at": time.time(),
        # the fold policy THIS version was written under, recorded so
        # time-travel reads fold pre-policy-change versions correctly
        # even if a reload later changes the policy (manifests written
        # before this key fall back to the mutable meta)
        "mor_fold": _table_meta(path).get("mor_fold"),
    }
    if schema is not None:
        m["schema"] = schema
    if op is not None:
        m["op"] = op
    if dead_phys:
        # physical names of DROPPED columns: still present in old data
        # files, so a later merge may not ADD a column whose name
        # would collide with one (_union_schema raises) — the rule
        # that keeps dropped data from leaking into a new column
        m["dead_phys"] = sorted(dead_phys)
    shard_size = _shard_size_for(n_buckets)
    m["format"] = MANIFEST_FORMAT
    m["shard_size"] = shard_size
    m["shards"] = _write_manifest_shards(
        path, buckets, stats, dv, deltas, n_buckets, shard_size,
        base_full, changed,
    )
    # root delta-chain: when the previous version's (resolved) root is
    # layout-compatible and this is not a checkpoint slot, persist only
    # the shard entries that CHANGED plus a back reference — commit
    # bytes ∝ touched shards at any table width. The in-memory manifest
    # keeps the full map; only the serialized form is a delta (readers
    # resolve via _load_root).
    base_root = (base_full or {}).get("_root")
    if (
        v % ROOT_CKPT_EVERY != 0
        and base_root is not None
        and base_root.get("shard_size") == shard_size
        and base_root.get("n_buckets") == n_buckets
        and base_root.get("v") == v - 1
        and "shards" in base_root
    ):
        base_shards = base_root["shards"]
        sset = {
            k: e
            for k, e in m["shards"].items()
            if base_shards.get(k) != e
        }
        sdel = sorted(k for k in base_shards if k not in m["shards"])
        if (len(sset) + len(sdel)) * 2 <= len(m["shards"]):
            del m["shards"]
            m["root_base"] = v - 1
            m["shards_set"] = sset
            if sdel:
                m["shards_del"] = sdel
    with fsio.atomic_file(_manifest_path(path, v)) as f:
        json.dump(m, f, indent=0, sort_keys=True)
    return m["committed_at"]


def _schema_of(df: DataFrame) -> dict:
    return json.loads(df.schema.json())


def _struct_of(schema_json: dict):
    """The StructType of a recorded schema, parsed from a copy: pyspark
    4.1's `StructField.fromJson` rewrites the collation metadata of the
    dict it is given (`spark.UTF8_LCASE` -> `UTF8_LCASE`), and a second
    parse of that dict then fails."""
    import copy

    from pyspark.sql.types import StructType

    return StructType.fromJson(copy.deepcopy(schema_json))


class SchemaConflict(ValueError):
    """A merge batch redefined an existing column at an incompatible
    type. Raised BEFORE the commit — Delta-style schema enforcement:
    committing the conflicting type would brick reads of every
    untouched bucket (their parquet files fail under the new manifest
    schema with SchemaColumnConvertNotSupported), a corruption the
    analysis-time union check cannot catch when the batch touches only
    manifest-absent buckets (target slice is None, so nothing unions
    the batch against the committed types). A deliberate type change
    is a full reload (`write_bucket_table_versioned`), which rewrites
    every file under the new type."""


def _type_fingerprint(t):
    """A type JSON with nullability flags and field metadata ERASED at
    every nesting level — the identity under which already-committed
    parquet files stay readable. Two types with equal fingerprints
    differ at most in nullable/containsNull/valueContainsNull/metadata,
    which are advisory for parquet reads; anything else (a physical
    type change) is the read-bricking conflict `_union_schema` must
    reject. Field ORDER inside structs is part of the fingerprint."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return (
                "struct",
                tuple(
                    (f["name"], _type_fingerprint(f["type"]))
                    for f in t["fields"]
                ),
            )
        if k == "array":
            return ("array", _type_fingerprint(t["elementType"]))
        if k == "map":
            return (
                "map",
                _type_fingerprint(t["keyType"]),
                _type_fingerprint(t["valueType"]),
            )
        return ("other", json.dumps(t, sort_keys=True))
    return t


def _relax_type(old, new):
    """Merge two fingerprint-equal type JSONs, keeping the new
    definition but RELAXING nullability to the union (a flag true on
    either side stays true): committing the narrower flag would claim
    non-nullness for generations that legitimately hold nulls. The
    symmetric fix for the full-outer-join drift — a merge whose target
    passed through an outer join reports every struct field nullable
    even when the committed type says otherwise."""
    if not isinstance(new, dict):
        return new
    k = new.get("type")
    if k == "struct":
        old_by = {f["name"]: f for f in old["fields"]}
        return {
            **new,
            "fields": [
                {
                    **f,
                    "nullable": bool(
                        f.get("nullable", True)
                        or old_by[f["name"]].get("nullable", True)
                    ),
                    "type": _relax_type(
                        old_by[f["name"]]["type"], f["type"]
                    ),
                }
                for f in new["fields"]
            ],
        }
    if k == "array":
        return {
            **new,
            "containsNull": bool(
                new.get("containsNull", True)
                or old.get("containsNull", True)
            ),
            "elementType": _relax_type(
                old["elementType"], new["elementType"]
            ),
        }
    if k == "map":
        return {
            **new,
            "valueContainsNull": bool(
                new.get("valueContainsNull", True)
                or old.get("valueContainsNull", True)
            ),
            "keyType": _relax_type(old["keyType"], new["keyType"]),
            "valueType": _relax_type(old["valueType"], new["valueType"]),
        }
    return new


def _reserved_phys(full: dict) -> set[str]:
    """Physical names a NEW column may not take: every mapped physical
    name still live in the schema, plus the physical names of DROPPED
    columns (their data lingers in old files) — reusing either would
    read the old column's bytes into the new logical column."""
    out = set((full.get("dead_phys") or []))
    out |= set(_phys_map(full.get("schema")).values())
    return out


def _union_schema(
    prev: dict | None, new: dict, reserved_phys: set[str] | None = None,
) -> dict:
    """Field-union of two schema JSONs: previous field ORDER is kept,
    fields only in the new schema append, fields only in the previous
    schema survive — a merge can never silently narrow the table.
    A field present in BOTH must carry the same type FINGERPRINT
    (nullability and metadata may drift at any nesting level — a
    merge's full-outer join marks every target column nullable, which
    must not read as a type change; the committed definition relaxes
    nullability to the union of both sides): parquet files already
    committed under the previous type cannot be read under a
    physically conflicting one, so a real type change raises
    `SchemaConflict` instead of committing a manifest that bricks
    untouched buckets."""
    if prev is None:
        return new
    new_by_name = {f["name"]: f for f in new["fields"]}
    conflicts = {
        f["name"]: (f["type"], new_by_name[f["name"]]["type"])
        for f in prev["fields"]
        if f["name"] in new_by_name
        and _type_fingerprint(new_by_name[f["name"]]["type"])
        != _type_fingerprint(f["type"])
    }
    if conflicts:
        raise SchemaConflict(
            "merge batch redefines committed column types: "
            + ", ".join(
                f"{n} ({json.dumps(old)} -> {json.dumps(neww)})"
                for n, (old, neww) in conflicts.items()
            )
            + " — a type change requires a full reload"
        )
    out = []
    for f in prev["fields"]:
        nf = new_by_name.pop(f["name"], None)
        if nf is None:
            out.append(f)
            continue
        merged = {
            **nf,
            "nullable": bool(
                nf.get("nullable", True) or f.get("nullable", True)
            ),
            "type": _relax_type(f["type"], nf["type"]),
        }
        # COLUMN MAPPING survives merges: the batch side never carries
        # the phys metadata (it was built from logical names), so the
        # committed field keeps the previous mapping
        prev_phys = (f.get("metadata") or {}).get("phys")
        if prev_phys:
            merged["metadata"] = {
                **(merged.get("metadata") or {}), "phys": prev_phys,
            }
        out.append(merged)
    if reserved_phys:
        # a NEW column may not take a physical name that old data
        # files still use (a renamed column's birth name, a dropped
        # column's name): files would leak the old bytes into it
        clashes = sorted(
            n for n in new_by_name if n in reserved_phys
        )
        if clashes:
            raise SchemaConflict(
                f"new column(s) {clashes} collide with the physical "
                "name of a renamed or dropped column still present in "
                "data files — pick a different name, or do a full "
                "reload (which rewrites files and clears mappings)"
            )
    out += list(new_by_name.values())
    return {**new, "fields": out}


def table_schema(path: str, version: int | None = None):
    """The committed schema as-of a version (SCHEMA EVOLUTION surface):
    manifests record the schema their commit wrote, so time travel
    returns the table AS IT WAS — columns added later don't exist in
    older versions. None for manifests written before schemas were
    recorded (readers fall back to parquet inference)."""
    v = _resolve_version(path, version)
    s = _load_manifest_full(path, v).get("schema")
    return _struct_of(s) if s is not None else None


def _phys_map(schema_json: dict | None) -> dict[str, str]:
    """COLUMN MAPPING (Delta's columnMapping=name shape): logical ->
    physical column name, only the non-identity entries. A field's
    physical name — the name its data files actually store — is fixed
    at column birth and recorded in the field metadata ("phys") when a
    RENAME moves the logical name away from it. Empty for tables that
    never altered: every code path below is feature-gated on that."""
    if not schema_json:
        return {}
    out = {}
    for f in schema_json["fields"]:
        p = (f.get("metadata") or {}).get("phys")
        if p and p != f["name"]:
            out[f["name"]] = p
    return out


def _physical_struct(schema_json: dict):
    """The StructType under which the data FILES read: field names
    replaced by their physical names (top level only — nested fields
    are not renameable, `alter_bucket_table_versioned` rejects
    attempts)."""
    fields = [
        {**f, "name": (f.get("metadata") or {}).get("phys") or f["name"]}
        for f in schema_json["fields"]
    ]
    return _struct_of({**schema_json, "fields": fields})


def _read_dirs(
    spark: SparkSession, dirs: list[str], schema,
    schema_json: dict | None = None,
) -> DataFrame:
    """Read generation dirs under the manifest-recorded schema when one
    exists: generations written before a column was added simply fill
    it with nulls (parquet reads by name), and the column ORDER is the
    committed one regardless of which file the inference would pick.
    When the committed schema carries COLUMN MAPPINGS (pass
    `schema_json` — renamed columns whose files store the birth-time
    physical name), the scan runs under the PHYSICAL schema and
    projects to logical names, so a rename never touches a data file."""
    pmap = _phys_map(schema_json)
    if pmap:
        df = spark.read.schema(_physical_struct(schema_json)).parquet(*dirs)
        inv = {p: l for l, p in pmap.items()}
        df = df.select(
            *[
                F.col(f.name).alias(inv.get(f.name, f.name))
                for f in df.schema.fields
            ]
        )
    else:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(*dirs)
    return df.drop("bucket") if "bucket" in df.columns else df


def _data_files(loc: str) -> list[str]:
    """The files Spark reads in a generation directory: those whose
    names do not start with "_" or "." (Spark's hidden-file rule, which
    skips checksum and marker files)."""
    return sorted(
        os.path.join(loc, n) for n in os.listdir(loc) if n[0] not in "_."
    )


def _parquet_file(f: str):
    """`f` opened with pyarrow, INT96 timestamps decoded at microseconds
    (the unit Spark reads them in); None when pyarrow cannot read it as
    Spark does: it holds INT96 timestamps and was not written by Spark,
    and pyarrow writes an instant before 1970 with a negative time of
    day, which its own microsecond decoding shifts by 2^64 ns."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
    md = pf.metadata
    if not md.created_by.startswith("parquet-mr") and any(
        md.schema.column(c).physical_type == "INT96"
        for c in range(md.num_columns)
    ):
        return None
    return pf


def _as_nullable(t):
    """A Spark type JSON with every nullable/containsNull/
    valueContainsNull flag set, as a file scan reports its schema
    (Spark's `asNullable`)."""
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {k: v if k == "metadata" else _as_nullable(v) for k, v in t.items()}
    for flag in ("nullable", "containsNull", "valueContainsNull"):
        if flag in out:
            out[flag] = True
    return out


def _has_null_maps(a) -> bool:
    """Whether Arrow array `a` holds, at any depth, NULL maps with
    nested or timestamp keys or values: `createDataFrame` turns those
    into empty maps before pyarrow 17, because it rebuilds such a map
    column without the column's validity (SPARK-48302)."""
    import pyarrow as pa

    t = a.type
    if pa.types.is_struct(t):
        return any(_has_null_maps(a.field(j)) for j in range(t.num_fields))
    if pa.types.is_map(t):
        nested = any(
            pa.types.is_nested(x) or pa.types.is_timestamp(x)
            for x in (t.key_type, t.item_type)
        )
        return (a.null_count > 0 and nested) or any(map(_has_null_maps, (a.keys, a.items)))
    if pa.types.is_list(t):
        return _has_null_maps(a.values)
    return False


def _typed_nulls(n: int, dt):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.nulls(n, to_arrow_type(dt))


def _conform_array(a, dt):
    """One Arrow column in the shape Spark's parquet read gives it
    under the committed type `dt`: struct fields matched by name, a
    field missing from the file filled with typed nulls and a field
    absent from `dt` dropped, recursively through arrays and maps; a
    leaf cast to the committed type, which covers Spark's read-side
    widenings (int to long, float to double, decimal precision) and
    turns the microsecond timestamps pyarrow reads into Spark's UTC
    instants, so `createDataFrame` does not re-localize them in the
    session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, StructType):
        kids = []
        for f in dt.fields:
            j = a.type.get_field_index(f.name)
            kids.append(
                _conform_array(a.field(j), f.dataType) if j >= 0
                else _typed_nulls(len(a), f.dataType)
            )
        return pa.StructArray.from_arrays(
            kids, names=dt.names, mask=a.is_null() if a.null_count else None
        )
    if isinstance(dt, (ArrayType, MapType)):
        # rebuild over the original validity and offsets buffers; the
        # child is the whole backing array those offsets index into
        if isinstance(dt, ArrayType):
            child = _conform_array(a.values, dt.elementType)
            typ = pa.list_(pa.field("element", child.type))
        else:
            k = _conform_array(a.values.field(0), dt.keyType)
            v = _conform_array(a.values.field(1), dt.valueType)
            child = pa.StructArray.from_arrays(
                [k, v],
                fields=[pa.field("key", k.type, nullable=False),
                        pa.field("value", v.type)],
            )
            typ = pa.map_(k.type, v.type)
        return pa.Array.from_buffers(
            typ, len(a), a.buffers()[:2], a.null_count, a.offset, [child]
        )
    target = to_arrow_type(dt)
    return a if a.type == target else a.cast(target)


def _slice_fields(schema) -> list:
    """The fields of a slice read under the committed `schema`: every
    column but `bucket`, all nullable, as a file scan reports them."""
    from pyspark.sql.types import StructField

    return [
        StructField.fromJson(_as_nullable(f.jsonValue()))
        for f in schema.fields if f.name != "bucket"
    ]


def _conform_table(t, fields: list, pmap: dict) -> list:
    """The columns of one pyarrow table read from a generation file,
    under the committed `fields` (`_slice_fields`): physical column
    names mapped to logical ones (`pmap`), every column conformed by
    `_conform_array`, a column missing from the file filled with typed
    nulls."""
    cols = []
    for f in fields:
        i = t.schema.get_field_index(pmap.get(f.name, f.name))
        cols.append(
            _conform_array(t.column(i).combine_chunks(), f.dataType)
            if i >= 0 else _typed_nulls(t.num_rows, f.dataType)
        )
    return cols


def _norm_stat(v):
    """Normalize a parquet-footer min/max value to a (tag, json-safe)
    pair, or None when the type can't be bounded portably. Timestamps
    and dates collapse to epoch MICROSECONDS (naive values are UTC —
    the session contract this repo pins); decimals to strings (exact,
    re-parsed for comparison); NaN disqualifies the chunk (parquet
    float stats with NaNs are not trustworthy bounds)."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return ("num", int(v))
    if isinstance(v, int):
        return ("num", v)
    if isinstance(v, float):
        if v != v:  # NaN
            return None
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        try:
            return ("str", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return ("ts", int(v.timestamp() * 1_000_000))
    if isinstance(v, datetime.date):
        dt = datetime.datetime(
            v.year, v.month, v.day, tzinfo=datetime.timezone.utc
        )
        return ("ts", int(dt.timestamp() * 1_000_000))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    return None


def _coerce_bound(tag: str, value):
    """Coerce a user predicate bound to a stats-comparable value under
    the column's stats tag; None = can't coerce (no pruning)."""
    import datetime
    import decimal

    if value is None:
        return None
    if tag == "num":
        # ints stay ints: Python compares int/float EXACTLY (no 2^53
        # rounding), and float() of a large int could round a bound
        # past a generation's true max — a wrong skip, i.e. data loss
        if isinstance(value, bool):
            return int(value)
        if isinstance(value, float) and value != value:  # NaN
            return None
        return value if isinstance(value, (int, float)) else None
    if tag == "str":
        return value if isinstance(value, str) else None
    if tag == "dec":
        try:
            return decimal.Decimal(str(value))
        except decimal.InvalidOperation:
            return None
    if tag == "ts":
        # plain ints are REJECTED (no pruning): the planner's internal
        # unit is epoch micros but Spark's residual filter would read
        # the same int in a different unit — an ambiguity that could
        # make planner and filter disagree. Pass datetime / ISO string.
        if isinstance(value, (bool, int, float)):
            return None
        if isinstance(value, str):
            try:
                value = datetime.datetime.fromisoformat(value)
            except ValueError:
                return None
        if isinstance(value, datetime.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=datetime.timezone.utc)
            return int(value.timestamp() * 1_000_000)
        if isinstance(value, datetime.date):
            dt = datetime.datetime(
                value.year, value.month, value.day,
                tzinfo=datetime.timezone.utc,
            )
            return int(dt.timestamp() * 1_000_000)
    return None


def _accumulate_chunk(cols: dict, rg) -> None:
    """Fold one row group's column-chunk stats into a running
    {name -> entry-or-None} accumulator (None = disqualified: absent
    stats mean MUST READ, never a wrong skip)."""
    for ci in range(rg.num_columns):
        col = rg.column(ci)
        name = col.path_in_schema
        if "." in name:  # nested: no portable bounds
            cols[name.split(".")[0]] = None
            continue
        if cols.get(name, "absent") is None:
            continue  # already disqualified
        try:
            st = col.statistics
        except Exception:
            # pyarrow can't extract stats for every physical
            # type (e.g. some decimal encodings raise
            # ArrowNotImplementedError): absent stats mean
            # MUST READ, never a wrong skip
            cols[name] = None
            continue
        nulls_here = (
            st.null_count
            if st is not None and st.has_null_count
            else None
        )
        e = cols.get(name) or {
            "t": None, "lo": None, "hi": None, "n": 0
        }
        if st is None or not st.has_min_max:
            if nulls_here is not None and nulls_here == rg.num_rows:
                # all-null chunk: contributes no bounds, only nulls
                e["n"] += nulls_here
                cols[name] = e
                continue
            cols[name] = None  # unbounded non-null values
            continue
        try:
            lo, hi = _norm_stat(st.min), _norm_stat(st.max)
        except Exception:
            # extraction itself can raise per-type (pyarrow's
            # INT64-decimal path): treat as absent stats
            cols[name] = None
            continue
        if lo is None or hi is None or lo[0] != hi[0]:
            cols[name] = None
            continue
        if e["t"] is None:
            e["t"] = lo[0]
        elif e["t"] != lo[0]:
            cols[name] = None
            continue
        cmp_lo, cmp_hi = lo[1], hi[1]
        if e["t"] == "dec":
            import decimal

            dl = decimal.Decimal
            if e["lo"] is None or dl(cmp_lo) < dl(e["lo"]):
                e["lo"] = cmp_lo
            if e["hi"] is None or dl(cmp_hi) > dl(e["hi"]):
                e["hi"] = cmp_hi
        else:
            e["lo"] = cmp_lo if e["lo"] is None else min(e["lo"], cmp_lo)
            e["hi"] = cmp_hi if e["hi"] is None else max(e["hi"], cmp_hi)
        e["n"] += nulls_here if nulls_here is not None else 0
        cols[name] = e


def _finalize_cols(cols: dict) -> dict:
    out_cols = {}
    for name, e in cols.items():
        if e is None:
            continue
        if e["t"] is None:  # every chunk all-null
            out_cols[name] = {"t": "null", "n": e["n"]}
        else:
            out_cols[name] = e
    return out_cols


def _harvest_stats(path: str, bucket_id, gen: str) -> dict:
    """Per-generation column stats from parquet FOOTERS — metadata-only
    I/O (KB per file), the Delta/Iceberg data-skipping ledger computed
    at commit time so scans can prune by min/max without opening data
    pages. Per column: {"t": tag, "lo": min, "hi": max, "n": nulls}
    with "t": "null" for a generation whose column is entirely null
    (range predicates skip it outright); columns whose chunks lack
    usable bounds (INT96 timestamps, NaN floats, nested fields,
    non-UTF8 binary) are omitted — absent stats mean MUST READ, never
    a wrong skip. Bounds need not be exact values, only valid bounds
    (parquet writers may truncate long strings either way).

    MULTI-FILE generations (the `optimize_versioned` clustered layout,
    which sorts each bucket and rolls files at a row budget) also get
    a per-FILE ledger under "fs" ({basename -> {rows, bytes, cols}}),
    so a value-range scan can prune at file grain inside a bucket —
    the layer where clustering makes bounds selective even though the
    hash layout spreads every value range across all buckets.
    Single-file generations (every normal merge writes one file per
    bucket) skip "fs": the bucket-level entry already IS the file's,
    and the manifest stays exactly as small as before."""
    import glob as _glob

    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    per_file: dict[str, dict] = {}
    gen_cols: dict[str, dict | None] = {}
    flist = sorted(_glob.glob(f"{path}/bucket={bucket_id}/{gen}/*.parquet"))
    for fpath in flist:
        fsize = os.path.getsize(fpath)
        nbytes += fsize
        md = pq.read_metadata(fpath)
        rows += md.num_rows
        fcols: dict[str, dict | None] = {}
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            _accumulate_chunk(gen_cols, rg)
            _accumulate_chunk(fcols, rg)
        per_file[os.path.basename(fpath)] = {
            "rows": md.num_rows,
            "bytes": fsize,
            "cols": _finalize_cols(fcols),
        }
    out = {
        "rows": rows,
        "bytes": nbytes,
        "files": len(per_file),
        "cols": _finalize_cols(gen_cols),
    }
    if len(per_file) > 1:
        out["fs"] = per_file
    return out


def _stat_excludes(s: dict | None, lo, hi) -> bool:
    """True iff a column-stats entry PROVES no row can satisfy
    `lo <= col <= hi` (at least one bound given). The single exclusion
    rule both pruning grains share — bucket-generation and file. None
    / uncoercible bounds never exclude (absent stats mean MUST READ)."""
    if s is None:
        return False
    if lo is None and hi is None:
        # unbounded "predicate": matches every row INCLUDING nulls —
        # nothing is excludable (the all-null branch below is licensed
        # only by a real bound's SQL null-exclusion)
        return False
    if s["t"] == "null":
        # no non-null value of the column in this unit: no range
        # predicate (which excludes nulls by SQL semantics) can match
        return True
    clo = _coerce_bound(s["t"], lo)
    chi = _coerce_bound(s["t"], hi)
    if (lo is not None and clo is None) or (hi is not None and chi is None):
        return False  # uncoercible bound: must read
    slo, shi = s["lo"], s["hi"]
    if s["t"] == "dec":
        import decimal

        slo, shi = decimal.Decimal(slo), decimal.Decimal(shi)
    return (clo is not None and shi < clo) or (chi is not None and slo > chi)


def prune_generations(
    path: str, column: str, lo=None, hi=None, version: int | None = None
) -> dict:
    """The data-skipping planner: which buckets' generations can a
    closed-interval predicate `lo <= column <= hi` (either bound open
    when None) actually touch under a version's manifest stats?
    Pure manifest arithmetic — no Spark job, no data I/O. Returns
    {version, read, skipped, manifest}; buckets without usable stats
    for the column are always read (absent stats never skip).

    A bounded predicate first tests each shard's root-level rollup
    bounds: an excluded shard's buckets all skip WITHOUT loading the
    shard file, so plan cost is O(shards that can match), not O(table
    width) — the returned "manifest" is then PARTIAL (complete for
    every `read` bucket, which is all any scan consumer touches)."""
    v = _resolve_version(path, version)
    root = _load_root(path, v)
    if lo is None and hi is None:
        # no predicate, no pruning: an unbounded scan returns EVERY
        # row, including nulls — even an all-null generation's rows
        # (skipping those here while applying no residual filter would
        # silently drop them; a range with at least one bound excludes
        # nulls by SQL semantics, which is what licenses the skips)
        full = _assemble_shards(path, root, None)
        return {
            "version": v,
            "read": sorted(full["buckets"]),
            "skipped": [],
            "manifest": full,
        }
    # stats are harvested from data-file FOOTERS, so their keys are
    # PHYSICAL column names — translate the (logical) predicate column
    # through the mapping (identity for never-altered tables)
    pcol = _phys_map(root.get("schema")).get(column, column)
    read: list[str] = []
    skipped: list[str] = []
    load_keys: set[str] = set()
    for s, e in root["shards"].items():
        if _stat_excludes((e.get("cols") or {}).get(pcol), lo, hi):
            skipped.extend(str(i) for i in _entry_ids(e))
        else:
            load_keys.add(s)
    full = _assemble_shards(path, root, load_keys)
    stats = full.get("stats") or {}
    deltas = full.get("deltas") or {}
    for i in full["buckets"]:
        # a bucket with merge-on-read deltas is excludable only when
        # EVERY generation's stats exclude: the base may be out of
        # range while a delta holds a matching (and winning) row, and
        # vice versa — and DVs only remove rows, so exclusion stays
        # sound. Absent stats on any generation mean MUST READ.
        entries = [stats.get(i)] + [d.get("stats") for d in deltas.get(i, [])]
        if all(
            _stat_excludes((e or {}).get("cols", {}).get(pcol), lo, hi)
            for e in entries
        ):
            skipped.append(i)
        else:
            read.append(i)
    return {
        "version": v,
        "read": sorted(read),
        "skipped": sorted(skipped),
        "manifest": full,
    }


def prune_generations_multi(
    path: str, predicates: list[tuple], version: int | None = None
) -> dict:
    """Conjunctive pruning: `predicates` is a list of (column, lo, hi)
    ranges ANDed together — a generation is skipped when ANY predicate
    proves no overlap (the read set is the INTERSECTION of the
    per-column read sets). Same manifest-arithmetic cost; same
    absent-stats-never-skip conservatism per column."""
    v = _resolve_version(path, version)
    plans = [
        prune_generations(path, col, lo, hi, v) for col, lo, hi in predicates
    ]
    if not plans:
        full = _load_manifest_full(path, v)
        return {
            "version": v, "read": sorted(full["buckets"]), "skipped": [],
            "manifest": full,
        }
    read = set(plans[0]["read"])
    for p in plans[1:]:
        read &= set(p["read"])
    all_b = set(plans[0]["read"]) | set(plans[0]["skipped"])
    return {
        "version": v,
        "read": sorted(read),
        "skipped": sorted(all_b - read),
        "manifest": plans[0]["manifest"],
    }


def prune_files(
    path: str, predicates: list[tuple], version: int | None = None
) -> dict:
    """Two-grain skipping plan: bucket-generation pruning first
    (prune_generations_multi), then FILE pruning inside each surviving
    bucket whose generation carries a per-file ledger ("fs" — written
    by optimize_versioned's clustered layout, where sorted buckets
    roll files at a row budget so per-file min/max are selective).
    Still pure manifest arithmetic: the file names live in the ledger,
    so no directory listing happens at plan time. Returns
    {version, read: [dir-or-file paths], read_buckets: [bucket ids
    behind those paths], skipped (buckets), skipped_files, files_read,
    files_total, manifest}; `files_read` / `files_total` count only
    the ledgered buckets (unledgered buckets read as whole dirs,
    exactly as before — absent stats never skip). `read_buckets` is
    authoritative for consumers that need the bucket ids (deletion
    vectors)."""
    plan = prune_generations_multi(path, predicates, version)
    full = plan["manifest"]
    manifest = full["buckets"]
    stats = full.get("stats") or {}
    # only BOUNDED predicates license file skips — an unbounded
    # (col, None, None) matches every row including nulls, exactly
    # the rule prune_generations applies at bucket grain
    pmap = _phys_map(full.get("schema"))
    bounded = [
        (pmap.get(c, c), lo, hi)
        for c, lo, hi in predicates
        if lo is not None or hi is not None
    ]
    read: list[str] = []
    read_buckets: list = []
    skipped_files: list[str] = []
    delta_buckets: list[str] = []
    deltas = full.get("deltas") or {}
    files_read = files_total = 0
    for i in plan["read"]:
        if deltas.get(i):
            # merge-on-read bucket: the per-column ordinal fold means a
            # skipped FILE could still contribute columns to a folded
            # row that matches (base row superseded in the filtered
            # column but not in others) — no sub-bucket grain is sound;
            # the bucket reads whole through _read_snapshot_slice
            delta_buckets.append(i)
            continue
        gdir = _gen_data_path(path, i, manifest[i])
        fs = (stats.get(i) or {}).get("fs")
        if not fs or not bounded:
            read.append(gdir)
            read_buckets.append(i)
            continue
        files_total += len(fs)
        bucket_read = False
        for fname in sorted(fs):
            fcols = fs[fname].get("cols", {})
            if any(
                _stat_excludes(fcols.get(col), lo, hi)
                for col, lo, hi in bounded
            ):
                skipped_files.append(f"{gdir}/{fname}")
            else:
                read.append(f"{gdir}/{fname}")
                files_read += 1
                bucket_read = True
        if bucket_read:
            read_buckets.append(i)
    return {
        "version": plan["version"],
        "read": read,
        "read_buckets": sorted(read_buckets),
        "skipped": plan["skipped"],
        "skipped_files": skipped_files,
        "delta_buckets": delta_buckets,
        "files_read": files_read,
        "files_total": files_total,
        "manifest": full,
    }


def scan_versioned_multi(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned CONJUNCTIVE scan: AND of (column, lo, hi) ranges,
    reading only generations — and, inside clustered generations, only
    FILES — no predicate can disprove; every residual filter applied,
    so the result is exact (pruned ≡ unpruned law in
    tests/test_merge_versioned.py). The practical 100 TB shape is
    freshness AND a dimension bound in one pass."""
    plan = prune_files(path, predicates, version)
    full_m = plan["manifest"]
    stored = full_m.get("schema")
    schema = _struct_of(stored) if stored is not None else None
    dirs = plan["read"]
    with open(os.path.join(path, BUCKET_META)) as f:
        _k = json.load(f)["key"]
    df = None
    if dirs:
        df = _read_dirs(spark, dirs, schema, schema_json=stored)
        df = _apply_dv(spark, path, full_m, plan["read_buckets"], df, _k)
    if plan.get("delta_buckets"):
        # merge-on-read buckets read whole and FOLD (residual filters
        # below apply to the folded — i.e. current — rows, never to a
        # superseded version of a key)
        folded = _read_snapshot_slice(
            spark, path, full_m, plan["delta_buckets"], _k
        )
        if folded is not None:
            df = folded if df is None else df.unionByName(folded)
    if df is None:
        if schema is None:
            raise FileNotFoundError(
                f"version {plan['version']} of {path}: nothing to read and "
                "no recorded schema to type an empty result"
            )
        df = spark.createDataFrame([], schema)
    for column, lo, hi in predicates:
        c = F.col(column)
        if lo is not None:
            df = df.filter(c >= F.lit(lo))
        if hi is not None:
            df = df.filter(c <= F.lit(hi))
    return df


def scan_versioned(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned range scan: `SELECT * WHERE lo <= column <= hi`
    reading ONLY the generations whose footer min/max can overlap the
    interval — Delta/Iceberg data skipping at the bucket-generation
    grain. The residual filter is always applied, so the result is
    EXACT regardless of how much the stats pruned (the pruned ≡
    unpruned law in tests/test_merge_versioned.py). Skipping bites
    when the column correlates with generations — the canonical case
    is freshness (`updated_at >= t`: only buckets a recent merge
    rewrote have young max-stats; everything else skips), giving
    incremental consumers a clock-based path that reads changed data
    only, without a version checkpoint. The single-predicate case of
    `scan_versioned_multi` — one implementation, no drift."""
    return scan_versioned_multi(spark, path, [(column, lo, hi)], version)


def _dv_ref(e) -> tuple[str, int]:
    """Normalize a manifest DV reference to (dir name, depth). Depth is
    the delta-chain position the delete was committed at: the DV kills
    rows of generations at ORDINAL <= depth only, so merge-on-read
    deltas landing after it legitimately re-insert. Legacy plain-string
    refs (written before MOR existed — no deltas then) are depth 0."""
    if isinstance(e, dict):
        return e["n"], int(e.get("d", 0))
    return e, 0


def _apply_dv(
    spark: SparkSession,
    path: str,
    full: dict,
    bucket_ids,
    df: DataFrame,
    key: str,
) -> DataFrame:
    """Apply the manifest's DELETION VECTORS to a SINGLE-GENERATION
    slice read (no merge-on-read deltas for these buckets — delta
    buckets take the ordinal-aware path inside `_read_snapshot_slice`):
    anti-join the union of the given buckets' still-referenced DV key
    sets (broadcast — DVs are delete-batch-sized by construction).

    A DV dir spans every bucket its delete batch touched, but folds
    happen PER BUCKET (a data merge rewrites some buckets and clears
    only their refs), so each DV must be filtered to the rows of the
    buckets that STILL reference it under this manifest — an
    unfiltered key-only anti join would keep deleting a key that a
    later merge legitimately re-inserted into a folded bucket (the
    resurrection-blocking bug the DV law test pins). DV rows carry
    their bucket id ("__dv_bucket") for exactly this filter. No DV
    refs for the requested buckets -> the frame passes through
    untouched (the pre-DV fast path, zero overhead). Depth is
    irrelevant here: a bucket with no deltas has only ordinal-0 rows,
    which every ref kills."""
    dv_map = full.get("dv") or {}
    by_name: dict[str, set[int]] = {}
    for i in bucket_ids:
        for e in dv_map.get(str(i), []):
            n, _d = _dv_ref(e)
            by_name.setdefault(n, set()).add(int(i))
    if not by_name:
        return df
    dv = None
    for n, bs in sorted(by_name.items()):
        part = (
            spark.read.parquet(f"{path}/{n}")
            .filter(F.col("__dv_bucket").isin(sorted(bs)))
            .select(key)
        )
        dv = part if dv is None else dv.unionByName(part)
    return df.join(F.broadcast(dv.distinct()), key, "left_anti")


def _fold_rows(df: DataFrame, fold: dict) -> DataFrame:
    """Whole-row KEEP-LATEST fold for merge-on-read tables maintained
    by `keep_latest_merge` semantics (recorded table policy
    `mor_fold`: {"keys": [...], "order_by": [[col, "desc"|"asc"],
    ...]}): per composite key, the greatest row by the INTRINSIC
    comparator wins — not arrival order, which is what makes
    out-of-order CDC replay converge (a late batch carrying an older
    event must lose to the newer row already standing, exactly as the
    CoW merger decides). The layer ordinal is only the final
    tie-break, so equal-comparator rows resolve deterministically to
    the newest layer."""
    order = [
        F.desc(c) if str(d).lower() == "desc" else F.asc(c)
        for c, d in fold["order_by"]
    ]
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(*fold["keys"]).orderBy(*order, F.desc("__ord"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord")
    )


def _fold_ordinals(df: DataFrame, key: str) -> DataFrame:
    """Collapse a layered read (base generation = __ord 0, each
    merge-on-read delta = its position in the bucket's delta list) to
    the MERGED row per key, reproducing chained `merge_upsert`
    semantics exactly: per column, the LAST non-null value by ordinal
    wins (merge_upsert's coalesce(update, existing) per column — an
    update never nulls a column out, so last-non-null IS the coalesce
    chain); `created_at` takes the FIRST non-null (merge_upsert keeps
    the original creation stamp). max_by/min_by ignore rows whose
    ordering expression is null, which is what makes the null-guarded
    ordinal a per-column filter. One hash aggregate (map-side
    combinable) — the read-side price of write cost ∝ batch."""
    cols = [c for c in df.columns if c not in (key, "__ord")]
    aggs = []
    for c in cols:
        pick = F.min_by if c == "created_at" else F.max_by
        aggs.append(
            pick(c, F.when(F.col(c).isNotNull(), F.col("__ord"))).alias(c)
        )
    return df.groupBy(key).agg(*aggs)


def _read_snapshot_slice(
    spark: SparkSession,
    path: str,
    full: dict,
    bucket_ids,
    key: str,
) -> DataFrame | None:
    """THE snapshot read every surface goes through: the given
    buckets' base generations, overlaid with their merge-on-read DELTA
    generations (ordinal fold — later deltas supersede, per column),
    with the manifest's deletion vectors applied. Tables that never
    took a MOR merge hit the zero-overhead fast path (one multi-dir
    parquet read + the DV pass-through). Deltas are read in LAYERS
    (all buckets' j-th delta in one scan, j bounded by merges since
    the last compaction), never one-job-per-dir. Returns None when
    none of the requested buckets hold data."""
    manifest = full["buckets"]
    ids = [str(i) for i in bucket_ids if str(i) in manifest]
    if not ids:
        return None
    stored = full.get("schema")
    schema = _struct_of(stored) if stored is not None else None
    deltas = full.get("deltas") or {}
    depth = max((len(deltas.get(i, [])) for i in ids), default=0)
    df = _read_dirs(
        spark, [_gen_data_path(path, i, manifest[i]) for i in ids], schema,
        schema_json=stored,
    )
    if not depth:
        return _apply_dv(spark, path, full, ids, df, key)
    df = df.withColumn("__ord", F.lit(0))
    for j in range(1, depth + 1):
        layer = [
            f"{path}/bucket={i}/{deltas[i][j - 1]['g']}"
            for i in ids
            if len(deltas.get(i, [])) >= j
        ]
        df = df.unionByName(
            _read_dirs(spark, layer, schema, schema_json=stored).withColumn(
                "__ord", F.lit(j)
            )
        )
    # ORDINAL-AWARE deletion vectors, applied BEFORE the fold: a DV
    # committed at delta depth d kills rows of generations with
    # ordinal <= d only — deltas landing after the delete re-insert,
    # and a PARTIAL re-insert gets insert semantics (the dead base
    # row's other columns never resurface through the fold: the CoW
    # equivalence law pins this exact course)
    dv_map = full.get("dv") or {}
    groups: dict[tuple[str, int], set[int]] = {}
    for i in ids:
        for e in dv_map.get(str(i), []):
            n, d = _dv_ref(e)
            groups.setdefault((n, d), set()).add(int(i))
    if groups:
        dv = None
        for (n, d), bs in sorted(groups.items()):
            part = (
                spark.read.parquet(f"{path}/{n}")
                .filter(F.col("__dv_bucket").isin(sorted(bs)))
                .select(
                    F.col(key).alias("__dv_key"),
                    F.lit(d).alias("__dv_depth"),
                )
            )
            dv = part if dv is None else dv.unionByName(part)
        dv = dv.groupBy("__dv_key").agg(
            F.max("__dv_depth").alias("__dv_depth")
        )
        df = df.join(
            F.broadcast(dv),
            (F.col(key) == F.col("__dv_key"))
            & (F.col("__ord") <= F.col("__dv_depth")),
            "left_anti",
        )
    # the fold policy comes from the VERSION'S manifest, not the
    # mutable meta: a reload may change the policy, and time-travel
    # reads of pre-change versions must fold under the policy they
    # were written with (manifests older than fold recording fall
    # back to the meta — the only source their era had)
    if "mor_fold" in full:
        fold = full["mor_fold"]
    else:
        fold = _table_meta(path).get("mor_fold")
    if fold:
        return _fold_rows(df, fold)
    return _fold_ordinals(df, key)


def merge_deletes_dv(
    spark: SparkSession, path: str, keys_df: DataFrame
) -> dict:
    """DELETE as a DELETION VECTOR commit — the Delta 2.x merge-on-read
    economics: zero data files rewritten; the commit writes ONE small
    parquet dir of deleted keys (cost ∝ deleted keys) and a manifest
    whose touched buckets gain a DV reference. Readers anti-join the
    DV (every read surface goes through `_apply_dv`); the NEXT data
    merge that touches a bucket FOLDS its DV (the target slice is read
    DV-applied and the rewritten generation clears the reference), so
    DVs never accumulate past one data-merge cycle per bucket; rebucket
    and optimize fold every DV they rewrite. Time travel is exact: old
    manifests don't reference the new DV. The rewrite-based delete leg
    (`merge_scoped_versioned(deleted_col=...)`) remains the right call
    for composite-identity tables — a DV deletes every row of a bucket
    KEY (`keys_df` carries the bucket-key column only).

    Stats stay VALID upper bounds: a DV only removes rows, so footer
    min/max remain sound for skipping (a pruned bucket has no matching
    live rows either) and `rows` becomes an upper bound until the fold.

    Crash-safe like generations: the DV dir is unreferenced until the
    manifest/pointer commit; a crash leaves an orphan for vacuum.
    Returns {version, buckets_touched, dv_rows, dv_bytes}.
    """
    import glob as _glob

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        b = bucket_expr(key, n_buckets)
        # bounded driver-side state: bucket ids only, never row data
        touched = sorted(
            r[0]
            for r in keys_df.select(b.alias("__b")).distinct().collect()
        )
        # only buckets that HOLD data need a DV (a delete for a key in
        # an absent bucket is a no-op)
        touched = [i for i in touched if str(i) in full["buckets"]]
        if not touched:
            return {
                "version": cur, "buckets_touched": 0,
                "dv_rows": 0, "dv_bytes": 0,
            }
        dv_name = f"dv-{uuid.uuid4().hex[:12]}"
        n_rows = keys_df.count()
        (
            keys_df.select(key)
            .distinct()
            # the bucket id travels WITH each deleted key so partial
            # folds can filter the DV to still-referencing buckets
            .withColumn("__dv_bucket", b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/{dv_name}")
        )
        dv_bytes = sum(
            os.path.getsize(f)
            for f in _glob.glob(f"{path}/{dv_name}/*.parquet")
        )
        dv_all = {k2: list(v2) for k2, v2 in (full.get("dv") or {}).items()}
        deltas_now = full.get("deltas") or {}
        for i in touched:
            # ordinal scope: the delete applies to every generation
            # that EXISTS now (base = 0 plus the current delta chain);
            # merge-on-read deltas committed later sit above it and
            # legitimately re-insert
            dv_all.setdefault(str(i), []).append(
                {"n": dv_name, "d": len(deltas_now.get(str(i), []))}
            )
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, dict(full["buckets"]), n_buckets,
            full.get("schema"), full.get("stats"), op="delete-dv",
            dv=dv_all, deltas=full.get("deltas"),
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(touched),
        )
    return {
        "version": v, "buckets_touched": len(touched),
        "dv_rows": n_rows, "dv_bytes": dv_bytes,
    }


def _commit(
    path: str, v: int, buckets: dict[str, str], n_buckets: int,
    schema: dict | None = None, stats: dict | None = None,
    op: str | None = None, dv: dict | None = None,
    deltas: dict | None = None, dead_phys: list | None = None,
    base_full: dict | None = None, changed: set | None = None,
) -> None:
    """The commit: publish manifest v AND advance `_LATEST` to it,
    both under `_COMMITLOCK`. The manifest lands only here — a merger
    crashing anywhere earlier leaves NO manifest, so its generations
    are unreferenced orphans (vacuumable) and its version number was
    never part of the readable history. Manifest and pointer are each
    an `fsio.atomic_file` (fsynced, replaced, directory fsynced), so
    the pointer never reaches disk before the manifest and generations
    it names. The pointer advance is monotonic, same rule as
    merge.py::_advance_pointer; older manifests get a supersession
    marker so vacuum's grace clock runs on time-since-displaced."""

    with fsio.locked(f"{path}/_COMMITLOCK"):
        current = -1
        latest = os.path.join(path, "_LATEST")
        if os.path.exists(latest):
            with open(latest) as f:
                current = int(f.read().strip() or -1)
        if v <= current:
            return
        # PHANTOM sweep: a merger that died between its manifest write
        # and its pointer replace left a manifest > current. Once our
        # pointer advances past that number it would become readable
        # committed history holding a never-committed batch — so purge
        # every uncommitted manifest first. Safe under _COMMITLOCK: a
        # LIVE merger writes its manifest and advances the pointer
        # inside this same lock, so any >current manifest seen here
        # belongs to a dead one.
        for ph in _list_versions(path):
            if ph > current and ph != v:
                os.unlink(_manifest_path(path, ph))
        stamp = _write_manifest(
            path, v, buckets, n_buckets, schema, stats, op, dv,
            deltas, dead_phys, base_full=base_full, changed=changed,
        )
        with fsio.atomic_file(latest) as f:
            f.write(str(v))
        # commit-log line AFTER the pointer lands (the commit is durable
        # once the pointer's replace and its directory fsync returned; a
        # crash right here just leaves this version to history()'s
        # manifest-load fallback): one tiny JSONL row so
        # history/version_at stay O(V x LINE), never O(V x manifest) —
        # at 4096 buckets a stats-bearing manifest is ~1.9 MB and
        # loading 300 of them cost 14.7 s (MANIFESTBENCH_4096)
        rows_total = bytes_total = None
        if stats is not None:
            rows_total = sum(s["rows"] for s in stats.values())
            bytes_total = sum(s["bytes"] for s in stats.values())
            # delta generations count into the ledger totals (rows
            # become an upper bound until a fold, exactly like
            # DV-deleted rows)
            for lst in (deltas or {}).values():
                rows_total += sum(d["stats"]["rows"] for d in lst)
                bytes_total += sum(d["stats"]["bytes"] for d in lst)
        line = json.dumps(
            {
                "v": v,
                "op": op,
                "committed_at": stamp,
                "n_buckets": n_buckets,
                "buckets": len(buckets),
                "rows": rows_total,
                "bytes": bytes_total,
                "n_columns": (
                    len(schema["fields"]) if schema is not None else None
                ),
            },
            sort_keys=True,
        )
        with open(os.path.join(path, HISTORY_LOG), "a") as hf:
            hf.write(line + "\n")
        for old in _list_versions(path):
            if old < v:
                marker = os.path.join(path, f"v-{old}.superseded")
                if not os.path.exists(marker):
                    with open(marker, "w") as mf:
                        mf.write(str(v))


class ConstraintViolation(ValueError):
    """A merge batch violated the table's CHECK constraints. Raised
    BEFORE any generation is written — the rejection is atomic: no
    orphans, no commit, readers unaffected. `.violations` maps
    constraint name -> violating-row count."""

    def __init__(self, path: str, violations: dict[str, int]):
        self.violations = violations
        super().__init__(
            f"constraint violation on {path}: "
            + ", ".join(f"{n} ({c} rows)" for n, c in violations.items())
        )


def _enforce_constraints(df: DataFrame, constraints: dict[str, str], path: str) -> None:
    """SQL CHECK semantics (Delta's shape): a row violates a constraint
    iff the expression evaluates to FALSE — NULL passes, as in standard
    SQL CHECK. One aggregate job counts every constraint's violations
    over the merged frame (cost ∝ the touched slice, not the table)."""
    if not constraints:
        return
    counts = df.agg(
        *[
            F.count(
                F.when(F.expr(expr).eqNullSafe(F.lit(False)), 1)
            ).alias(name)
            for name, expr in constraints.items()
        ]
    ).collect()[0]
    violations = {
        name: counts[name] for name in constraints if counts[name] > 0
    }
    if violations:
        raise ConstraintViolation(path, violations)


def write_bucket_table_versioned(
    df: DataFrame, path: str, key: str = "id", n_buckets: int = 16,
    constraints: dict[str, str] | None = None,
    mor_fold: dict | None = None,
) -> int:
    """Full load: generation dirs for every non-empty bucket, one
    manifest, pointer published. On a FRESH path this commits v-1; on
    an EXISTING table it commits a full-snapshot RELOAD as the next
    version (the old versions stay time-travelable until vacuumed).
    A reload may change
    n_buckets (manifests carry their own layout) but never the KEY:
    older manifests would become unreadable by point lookups, so a
    key change raises instead of silently corrupting. `constraints`
    ({name: sql bool expr}) are enforced on this load and RECORDED in
    the table meta — every later merge re-enforces them on its merged
    slice (the Delta table-level CHECK contract). On a RELOAD,
    `constraints=None` (the default) INHERITS the table's recorded
    constraints — enforced on the reload and carried into the new
    meta, mirroring the rebucket path's field preservation: a reload
    must not silently disarm CHECK enforcement just because the caller
    didn't re-type it. Pass a dict (even `{}`, to clear explicitly) to
    override. Returns the committed version."""

    os.makedirs(path, exist_ok=True)
    meta_path = os.path.join(path, BUCKET_META)
    # unpersist (if persisted) before the lock is released
    with fsio.locked(f"{path}/_MERGELOCK"), contextlib.ExitStack() as cleanup:
        # the existing-version probe happens UNDER the merge lock: read
        # before it and a concurrent merge could advance the pointer,
        # making our _commit a silent monotonic no-op while we report
        # the (someone else's) version number as our committed reload
        existing_v = None
        if os.path.exists(os.path.join(path, "_LATEST")):
            existing_v = latest_version(path)
            with open(meta_path) as f:
                old_meta = json.load(f)
            if old_meta["key"] != key:
                raise ValueError(
                    f"reload of {path} with key {key!r} but the table "
                    f"is keyed on {old_meta['key']!r}: a key change "
                    "would break point lookups on every retained "
                    "version — write a new path"
                )
            if constraints is None:
                constraints = old_meta.get("constraints")
            if mor_fold is None:
                mor_fold = old_meta.get("mor_fold")
        meta = {
            "key": key, "n_buckets": n_buckets, "v": 2, "versioned": True,
        }
        if constraints:
            meta["constraints"] = constraints
        if mor_fold:
            if key not in mor_fold.get("keys", []):
                raise ValueError(
                    f"mor_fold keys {mor_fold.get('keys')} must include "
                    f"the bucket key {key!r}"
                )
            meta["mor_fold"] = mor_fold
        if constraints:
            # persist so the constraint check and the write compute
            # the input lineage once, not twice (the merge path's rule)
            df = df.persist()
            cleanup.callback(df.unpersist)
            _enforce_constraints(df, constraints, path)
        if existing_v is None:
            # fresh table: the meta must exist before the first commit
            with fsio.atomic_file(meta_path) as f:
                json.dump(meta, f)
        gens = _write_generations(df, path, key, n_buckets, size=(None, (), df))
        stats = {i: _harvest_stats(path, i, g) for i, g in gens.items()}
        v = 1 if existing_v is None else existing_v + 1
        _commit(path, v, gens, n_buckets, _schema_of(df), stats, op="load")
        if existing_v is not None:
            # reload: the meta (layout hint + constraints) changes only
            # AFTER the commit landed, atomically — a reload that dies
            # mid-write must not leave meta describing a load that
            # never committed (readers stay on the old version AND the
            # old constraints)
            with fsio.atomic_file(meta_path) as f:
                json.dump(meta, f)
    return v


def init_bucket_table_versioned(
    path: str, key: str = "id", n_buckets: int = 16,
    constraints: dict[str, str] | None = None,
    mor_fold: dict | None = None,
) -> int:
    """Metadata-only creation of an EMPTY versioned table: meta, an
    empty manifest v-1, pointer — no Spark job (the CDC-replay shape
    starts from nothing).
    `constraints` are recorded for every future merge to enforce —
    nothing to check yet on an empty table. Init on an EXISTING table
    is ensure-exists: the committed table wins untouched (rewriting
    the meta here could silently re-key live data while the monotonic
    commit no-ops) — returns the current version; a key mismatch
    raises."""
    os.makedirs(path, exist_ok=True)
    if os.path.exists(os.path.join(path, "_LATEST")):
        with open(os.path.join(path, BUCKET_META)) as f:
            old_key = json.load(f)["key"]
        if old_key != key:
            raise ValueError(
                f"init of existing table {path} with key {key!r} but it "
                f"is keyed on {old_key!r}"
            )
        return latest_version(path)
    meta = {"key": key, "n_buckets": n_buckets, "v": 2, "versioned": True}
    if constraints:
        meta["constraints"] = constraints
    if mor_fold:
        # recorded READ policy for merge-on-read tables maintained by
        # keep-latest semantics: {"keys": [...], "order_by": [[col,
        # "desc"|"asc"], ...]} — every snapshot read folds whole rows
        # by this intrinsic comparator instead of the per-column
        # ordinal coalesce. The bucket key must be one of the fold
        # keys (a row's competitors must live in its own bucket).
        if key not in mor_fold.get("keys", []):
            raise ValueError(
                f"mor_fold keys {mor_fold.get('keys')} must include the "
                f"bucket key {key!r}"
            )
        meta["mor_fold"] = mor_fold
    with fsio.atomic_file(os.path.join(path, BUCKET_META)) as f:
        json.dump(meta, f)
    _commit(path, 1, {}, n_buckets, op="init")
    return 1


# The driver-local paths. A point lookup, a small copy-on-write commit,
# a small change feed and a small write can each run on the driver with
# pyarrow instead of in Spark jobs; each asks `_slice_gate` once, which
# answers with what the driver path reads or with the first reason it
# may not run. Every answer is one debug record on `_log` (attributes
# `surface`, `taken`, `reason`).
_log = logging.getLogger(__name__)

# Point lookups whose live generation files total at most this many
# bytes read them on the driver and return a local relation, so the
# caller's filter, select and collect fold into a LocalTableScan and
# run no Spark job. The largest generation size at which the local read
# won in the committed crossover measurement, LOOKUPCROSSOVER.json
# (tools/lookup_crossover.py).
LOCAL_READ_BYTES = 1 << 24

# Commits, feeds and writes whose size is at most this many bytes run
# on the driver: one toArrow() collect and one pyarrow file per bucket
# instead of Spark's bucket repartition, its write stage and the
# partitioned file commit, which cost a small commit a fixed ~0.5 s of
# task and job overhead. The size is known before any job runs: the
# committed bytes of the slice (`_slice_bytes`) plus Spark's
# optimized-plan estimate of the incoming rows (`_plan_bytes`). The
# largest slice size at which the local writer won in the committed
# crossover measurement, WRITECROSSOVER.json (tools/write_crossover.py),
# among the sizes whose slice, collected at up to 4 bytes of Arrow per
# parquet byte, stays within an eighth of a 2 GB driver.
LOCAL_WRITE_BYTES = 1 << 26

# Why `_slice_gate` refuses a driver-local path, in the order it checks.
REFUSALS = (
    "custom-merge",      # a merger, delete leg, fold policy or CHECK constraint
    "bucket-column",     # the batch has a column named `bucket`
    "sorted-write",      # a write that sorts or rolls its files
    "no-schema",         # the manifest records no schema
    "mor-deltas",        # a bucket has merge-on-read deltas
    "deletion-vectors",  # a bucket has deletion vectors
    "map-column",        # a map at any depth (the Arrow diff compares none)
    "collation",         # a string with a non-default collation
    "schema-changed",    # the feed's two versions have other columns
    "key-type",          # a key Arrow does not compare as Spark does
    "widened-type",      # Spark's merge widens an input column
    "not-arrow",         # pyarrow cannot carry or store the schema
    "no-stats",          # a generation records no byte count
    "too-large",         # over LOCAL_READ_BYTES or LOCAL_WRITE_BYTES
    "int96-file",        # INT96 timestamps pyarrow mis-decodes
    "null-map",          # NULL maps createDataFrame would empty
)


def _plan_bytes(df: DataFrame) -> int:
    """Spark's optimized-plan size estimate of `df`; runs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _slice_bytes(full: dict, bucket_ids) -> int | None:
    """The committed bytes of the given buckets' base and merge-on-read
    delta generations, from the manifest stats; None when one of them
    has no stats."""
    stats = full.get("stats") or {}
    deltas = full.get("deltas") or {}
    total = 0
    for i in map(str, bucket_ids):
        if i not in full["buckets"]:
            continue
        gens = [stats.get(i, {})] + [d.get("stats", {}) for d in deltas.get(i, [])]
        if any("bytes" not in st for st in gens):
            return None
        total += sum(st["bytes"] for st in gens)
    return total


def _upsert_schema(fields: list, batch, key: str, now):
    """The schema `merge_upsert` gives the default upsert of a batch of
    schema `batch` into a slice of `fields` (`_slice_fields`, [] for an
    empty slice), without asking Spark, or None when Spark's analysis
    would widen an input column: a column present on both sides under
    two types (an int batch key against a long key column), or audit
    columns that are not timestamps. With no widening the output types
    are the input types: every column of a non-empty slice comes out
    nullable (a full outer join), with its field metadata when only one
    side has it, while an empty slice passes the batch's fields
    through; the audit stamps are
    nullable only when `now` is a string Spark casts (the cast may give
    NULL). Law: tests/test_commit_local.py
    (test_upsert_schema_rule_equals_spark_analysis)."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    from .merge import AUDIT_COLS

    stamp = StructField("", TimestampType(), isinstance(now, str))
    audit = [StructField(c, stamp.dataType, stamp.nullable) for c in AUDIT_COLS]
    u = {f.name: f for f in batch.fields if f.name not in AUDIT_COLS}
    if not fields:
        return StructType(
            [u[key]] + [f for c, f in u.items() if c != key] + audit
        )
    t = {f.name: f for f in fields}

    def same(a, b) -> bool:
        return _type_fingerprint(a.jsonValue()) == _type_fingerprint(b.jsonValue())

    if any(c in t and not same(t[c].dataType, f.dataType) for c, f in u.items()):
        return None
    if any(c in t and not same(t[c].dataType, stamp.dataType) for c in AUDIT_COLS):
        return None
    if "updated_at" in t:
        audit[1] = StructField("updated_at", stamp.dataType, True)
    # a column from one side only keeps its field metadata
    out = [StructField(key, t[key].dataType, True)] + [
        StructField(c, f.dataType, True, None if c in u else f.metadata)
        for c, f in t.items() if c != key and c not in AUDIT_COLS
    ] + [StructField(c, f.dataType, True, f.metadata) for c, f in u.items() if c not in t]
    return StructType(out + audit)


class _Gate(NamedTuple):
    """`_slice_gate`'s answer: `reason` None and what the driver path
    reads (`read`), or the first refusal. A merge also carries its
    collected batch (`batch`, kept when the slice is refused: the
    touched set comes off it) and the batch's plan estimate (`plan`)."""

    reason: str | None = None
    read: object = None
    batch: object = None
    plan: int | None = None


def _incomparable(t) -> str | None:
    """"map-column" or "collation" when Spark type `t` holds a map or a
    string under a non-default collation at any depth: Spark's `<=>`
    rejects maps, and Arrow compares strings by their bytes."""
    from pyspark.sql.types import ArrayType, MapType, StringType, StructType

    if isinstance(t, StructType):
        return next(filter(None, (_incomparable(f.dataType) for f in t)), None)
    if isinstance(t, ArrayType):
        return _incomparable(t.elementType)
    if isinstance(t, MapType):
        return "map-column"
    if isinstance(t, StringType) and t.collation != "UTF8_BINARY":
        return "collation"
    return None


def _slice_gate(
    purpose: str, *, path: str | None = None, full: dict | None = None,
    old: dict | None = None, buckets=(), key=None, value=None,
    gens: list | None = None, columns: list | None = None,
    ords: bool = False, frame=None, batch: _Gate | None = None,
    n_buckets: int | None = None, custom: bool = False, plan=None,
    sort: bool = False, now=None,
) -> _Gate:
    """The one decision of every driver-local path: the pyarrow read of
    the slice a `purpose` needs, or the first reason (REFUSALS) it must
    take the Spark path, in the order the checks below run. The bounds,
    `_parquet_file`'s refusal and the key-type rule are read here only.
    What `read` holds per purpose:
    - lookup: the rows of `gens` ((location, tag) pairs) whose `key`
      equals `value`, conformed and tagged `__ord` when `ords`, and
      their Spark schema; with `columns`, the raw matching rows as
      (table, tag) pairs (the deletion-vector probe);
    - merge: the touched slice with its `bucket` (None when empty), the
      batch conformed with its `bucket`, the merged schema JSON; without
      `full` it stops after the batch collect and records nothing (the
      OCC admission, whose answer an attempt passes back as `batch`);
    - feed: the `old` and `full` versions' slices of `buckets`, and
      their fields;
    - write: `frame` (the rows with their `bucket`) collected once, or
      an Arrow `frame` as it is; its size is `full`'s slice of
      `buckets` plus the plan estimate of `plan`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from concurrent.futures import ThreadPoolExecutor
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        IntegerType, IntegralType, LongType, StringType, StructField, StructType,
    )

    def answer(reason=None, **kw) -> _Gate:
        if purpose != "merge" or full is not None:
            _log.debug(
                "%s: %s", purpose, reason or "driver path",
                extra={"surface": purpose, "taken": reason is None, "reason": reason},
            )
        return _Gate(reason, **kw)

    def key_refusal(t, *probe) -> str | None:
        # only a string (binary collation) or an integer key compares in
        # Arrow exactly as Spark's `=` and equi-join do; a probed value
        # must be a str or a 64-bit int of the same kind
        if isinstance(t, pa.DataType):
            kind = "str" if pa.types.is_string(t) else "int" if pa.types.is_integer(t) else None
        else:
            kind = "int" if isinstance(t, IntegralType) else "str" if (
                isinstance(t, StringType) and t.collation == "UTF8_BINARY") else None
        if probe and not (
            type(probe[0]) is str and kind == "str"
            or type(probe[0]) is int and -(2**63) <= probe[0] < 2**63 and kind == "int"
        ):
            return "key-type"
        return None if kind else "key-type"

    def layout_refusal(m: dict, ids) -> str | None:
        for i in map(str, ids):
            if i not in m["buckets"]:
                continue
            if (m.get("deltas") or {}).get(i):
                return "mor-deltas"
            if (m.get("dv") or {}).get(i):
                return "deletion-vectors"
        return None

    def conformed(parts, fields: list, pmap: dict, tag: StructField | None, arrow=None):
        # (tag, pyarrow table) parts conformed to `fields` as one table,
        # each row's tag in a last column when `tag` names it
        arrow = arrow or to_arrow_schema(StructType(fields + ([tag] if tag else [])))
        return pa.concat_tables([arrow.empty_table()] + [
            pa.Table.from_arrays(_conform_table(t, fields, pmap) + (
                [pa.repeat(pa.scalar(v, arrow.field(-1).type), t.num_rows)] if tag else []
            ), schema=arrow)
            for v, t in parts
        ])

    def read_slice(m: dict, ids, fields: list, tag=None):
        # the buckets' generations in `m`, tagged with their bucket id,
        # read on a few threads (pyarrow releases the GIL while it
        # decodes); None when a file holds INT96 pyarrow mis-decodes
        files = [
            (int(i), _parquet_file(f)) for i in map(str, ids) if i in m["buckets"]
            for f in _data_files(f"{path}/bucket={i}/{m['buckets'][i]}")
        ]
        if any(pf is None for _, pf in files):
            return None
        with ThreadPoolExecutor(min(4, len(files) or 1)) as ex:
            tables = list(ex.map(lambda f: f[1].read(), files))
        return conformed(
            zip((i for i, _ in files), tables), fields, _phys_map(m["schema"]), tag
        )

    bound = LOCAL_READ_BYTES if purpose == "lookup" else LOCAL_WRITE_BYTES

    if purpose == "lookup":
        if full.get("schema") is None:
            return answer("no-schema")
        schema = _struct_of(full["schema"])
        r = key_refusal(schema[key].dataType, value)
        if r:
            return answer(r)
        data = _slice_fields(schema)
        tag = StructField("__ord", IntegerType(), False) if ords else None
        out = StructType(data + ([tag] if tag else []))
        arrow = _arrow_schema(out)
        if arrow is None:
            return answer("not-arrow")
        files = [(f, t) for loc, t in gens for f in _data_files(loc)]
        if sum(os.path.getsize(f) for f, _ in files) > bound:
            return answer("too-large")
        pfs = [_parquet_file(f) for f, _ in files]
        if any(pf is None for pf in pfs):
            return answer("int96-file")
        hits = []
        for pf, (_, t) in zip(pfs, files):
            i = pf.schema_arrow.get_field_index(key)
            r = key_refusal(pf.schema_arrow.field(i).type, value) if i >= 0 else "key-type"
            if r:
                return answer(r)
            mask = pc.equal(pf.read(columns=[key]).column(0), value)
            if pc.any(mask).as_py():
                hits.append((t, pf.read(columns=columns).filter(mask)))
        if columns is not None:
            return answer(read=[(rows, t) for t, rows in hits])
        table = conformed(hits, data, _phys_map(full["schema"]), tag, arrow)
        if any(_has_null_maps(c) for col in table.columns for c in col.chunks):
            return answer("null-map")
        return answer(read=(table, out))

    if purpose == "merge":
        if batch is None:
            if custom:
                return answer("custom-merge")
            if "bucket" in frame.columns:
                return answer("bucket-column")
            r = key_refusal(frame.schema[key].dataType) if key in frame.columns else "key-type"
            if r:
                return answer(r)
            if _arrow_schema(frame.schema) is None:
                return answer("not-arrow")
            p = _plan_bytes(frame)
            if p > bound:
                return answer("too-large", plan=p)
            batch = _Gate(plan=p, batch=_collect_arrow(
                frame.withColumn("bucket", bucket_expr(key, n_buckets))
            ))
        b, p = batch.batch, batch.plan
        touched = [] if b is None else pc.unique(b["bucket"]).to_pylist()
        if batch.reason or full is None or not touched:
            return answer(batch.reason, batch=b, plan=p)

        def refuse(reason: str) -> _Gate:
            return answer(reason, batch=b, plan=p)

        fields = []
        if any(str(i) in full["buckets"] for i in touched):
            if full.get("schema") is None:
                return refuse("no-schema")
            r = layout_refusal(full, touched)
            if r:
                return refuse(r)
            s = _slice_bytes(full, touched)
            if s is None:
                return refuse("no-stats")
            if s + p > bound:
                return refuse("too-large")
            fields = _slice_fields(_struct_of(full["schema"]))
        out = _upsert_schema(fields, frame.schema, key, now)
        if out is None:
            return refuse("widened-type")
        if _arrow_schema(out) is None:
            return refuse("not-arrow")
        target = None
        if fields:
            # bucket_expr's type: pmod of a long
            target = read_slice(full, touched, fields, StructField("bucket", LongType()))
            if target is None:
                return refuse("int96-file")
        u = _slice_fields(frame.schema)
        rows = pa.Table.from_arrays(
            _conform_table(b, u, {}) + [b["bucket"]], names=[f.name for f in u] + ["bucket"]
        )
        return answer(read=(target, rows, json.loads(out.json())), batch=b, plan=p)

    if purpose == "feed":
        for r in [
            "no-schema" if m.get("schema") is None else None for m in (old, full)
        ] + [layout_refusal(m, buckets) for m in (old, full)]:
            if r:
                return answer(r)
        was, schema = (_struct_of(m["schema"]) for m in (old, full))
        r = _incomparable(was) or _incomparable(schema)
        if r:
            return answer(r)
        fields = _slice_fields(schema)
        if _slice_fields(was) != fields:
            return answer("schema-changed")
        r = next(filter(None, (
            key_refusal(schema[k].dataType) if k in schema.names else "key-type" for k in key
        )), None)
        if r:
            return answer(r)
        if _arrow_schema(StructType(fields)) is None:
            return answer("not-arrow")
        sizes = [_slice_bytes(m, buckets) for m in (old, full)]
        if None in sizes:
            return answer("no-stats")
        if sum(sizes) > bound:
            return answer("too-large")
        sides = [read_slice(m, buckets, fields) for m in (old, full)]
        if None in sides:
            return answer("int96-file")
        return answer(read=(*sides, fields))

    if purpose == "write":
        if not isinstance(frame, DataFrame):
            return answer(read=frame)
        if sort:
            return answer("sorted-write")
        s = 0 if full is None else _slice_bytes(full, buckets)
        if s is None or full is None and plan is None:
            return answer("no-stats")
        if s <= bound and plan is not None:
            s += plan if isinstance(plan, int) else _plan_bytes(plan)
        if s > bound:
            return answer("too-large")
        if _arrow_schema(frame.schema) is None:
            return answer("not-arrow")
        return answer(read=_collect_arrow(frame))
    raise ValueError(f"unknown driver-local purpose {purpose!r}")


def _collect_arrow(df: DataFrame):
    """`df` collected once with toArrow(), every column under its
    all-nullable type, as a file scan reports it: toArrow() casts the
    collected batches to the frame's schema, which fails on a
    non-nullable field under a NULL struct or array element."""
    from pyspark.sql.types import StructField

    cols = []
    for f in df.schema.fields:
        typ = StructField.fromJson(_as_nullable(f.jsonValue())).dataType
        cols.append(
            F.col(f.name) if typ == f.dataType
            else F.col(f.name).cast(typ).alias(f.name)
        )
    return df.select(*cols).toArrow()


def _stage_local(t, staging: str, pmap: dict | None) -> None:
    """The local writer: the rows plus their `bucket` column, as an
    Arrow table, each bucket's rows written with `_write_parquet` as one
    file under `staging/bucket=<i>/`, the layout Spark's partitioned
    write leaves, under physical column names when the table maps
    columns."""
    import pyarrow.compute as pc

    order = pc.sort_indices(t.column("bucket"))
    t = t.take(order)
    runs = pc.value_counts(t.column("bucket"))  # ascending after the sort
    t = t.drop_columns("bucket")
    t = t.rename_columns([(pmap or {}).get(c, c) for c in t.column_names])
    lo = 0
    for i, n in zip(
        runs.field("values").to_pylist(), runs.field("counts").to_pylist()
    ):
        d = f"{staging}/bucket={i}"
        os.makedirs(d)
        _write_parquet(
            t.slice(lo, n), f"{d}/part-00000-{uuid.uuid4()}.c000.snappy.parquet"
        )
        lo += n


def _stage_spark(
    staged: DataFrame, staging: str, width: int,
    sort_by: list | None, max_records_per_file: int | None,
    pmap: dict | None,
) -> None:
    """The Spark writer: one job repartitions `staged` by its `bucket`
    column into `width` tasks and writes it partitioned by bucket
    under `staging`."""
    job = staged.repartition(max(width, 1), "bucket")
    if sort_by:
        # rows arrive bucket-grouped; sorting by (bucket, cols)
        # keeps each bucket's run contiguous AND ordered even when
        # several buckets hash into one task. Entries may be plain
        # column names or Column EXPRESSIONS (the z-order path
        # sorts by a computed Morton code without materializing it
        # into the table schema).
        job = job.sortWithinPartitions("bucket", *sort_by)
    if pmap:
        # COLUMN MAPPING: data files store PHYSICAL names (the
        # birth-time name a rename moved the logical name away
        # from) — projected LAST so sort/bucket expressions above
        # resolved against the logical frame; the narrow
        # projection preserves within-partition order
        job = job.select(
            *[
                F.col(c).alias(pmap.get(c, c))
                for c in job.columns
            ]
        )
    writer = job.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option(
            "maxRecordsPerFile", int(max_records_per_file)
        )
    writer.partitionBy("bucket").parquet(staging)


def _write_generations(
    df, path: str, key: str, n_buckets: int,
    buckets: list[int] | None = None,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    pmap: dict[str, str] | None = None,
    size: tuple | None = None,
) -> dict[str, str]:
    """Bucket the rows and land each written bucket as an immutable
    `bucket=<i>/g-<hex>` generation dir (a rename off a staging dir —
    new names, nothing swapped), the one base layout at every bucket
    count. Returns {bucket id -> generation name} for the buckets that
    got rows. `df` is a frame, or an Arrow table whose rows already
    carry their `bucket` (a driver-side merge's output), which always
    takes the local writer.

    Two writers fill the staging dir. `_slice_gate("write")` decides:
    the local writer (`_stage_local`) collects the rows once and writes
    one pyarrow file per bucket when the write is unsorted and its size
    is at most LOCAL_WRITE_BYTES. `size` = (manifest, bucket ids, plan)
    says what the size is: the committed bytes of those buckets in the
    manifest (None: none) plus the plan estimate of `plan` (a frame, bytes already measured, or None); without
    `size` the write's size is unknown and Spark writes it. Otherwise
    one Spark job repartitions by bucket and writes partitioned by it;
    restricting to `buckets` keeps the repartition width = |touched|.
    `sort_by` sorts every bucket's rows by the given columns inside its
    task (sortWithinPartitions — no extra shuffle beyond the bucket
    repartition) and `max_records_per_file` rolls the writer at a row
    budget: together they produce the CLUSTERED layout — per bucket, a
    run of files each covering a contiguous sorted range, which is what
    makes per-file min/max selective for value predicates
    (optimize_versioned). Everything after staging (the renames and
    the out-of-bucket check) is the same for both writers."""
    gen = f"g-{uuid.uuid4().hex[:12]}"
    staging = f"{path}/.stage-{gen}"
    width = len(buckets) if buckets is not None else n_buckets
    out: dict[str, str] = {}
    staged = (
        df.withColumn("bucket", bucket_expr(key, n_buckets))
        if isinstance(df, DataFrame) else df
    )
    full, ids, plan = size or (None, (), None)
    local = _slice_gate(
        "write", frame=staged,
        sort=bool(sort_by or max_records_per_file),
        full=full, buckets=ids, plan=plan,
    ).read
    try:
        if local is not None:
            _stage_local(local, staging, pmap)
        else:
            _stage_spark(
                staged, staging, width, sort_by, max_records_per_file, pmap
            )
        candidates = (
            buckets if buckets is not None else range(n_buckets)
        )
        for i in candidates:
            src = f"{staging}/bucket={i}"
            if os.path.isdir(src):
                os.makedirs(f"{path}/bucket={i}", exist_ok=True)
                fsio.publish_dir(src, f"{path}/bucket={i}/{gen}")
                out[str(i)] = gen
        if buckets is not None:
            # a custom merger may only return rows whose keys fall in
            # the touched-bucket restriction (its inputs do); anything
            # staged OUTSIDE it would be silently deleted below — fail
            # LOUDLY instead of losing rows
            import glob as _glob

            leftover = [
                d for d in _glob.glob(f"{staging}/bucket=*")
                if os.path.isdir(d)
            ]
            if leftover:
                raise RuntimeError(
                    f"merge produced rows outside its touched buckets "
                    f"({sorted(os.path.basename(d) for d in leftover)}): "
                    "a merger must not emit keys absent from both the "
                    "batch and the target slice"
                )
    finally:
        # also on the crash path: a failed write must not leak its
        # batch-sized staging dir (vacuum additionally sweeps aged
        # .stage-* dirs for the kill -9 case this finally can't cover)
        fsio.discard(staging)
    return out


def _default_upsert(
    meta: dict, deleted_col: str | None, merger,
    constraints: dict[str, str] | None,
) -> bool:
    """Whether a copy-on-write commit is a default upsert: no custom
    merger, no delete leg, no recorded fold policy and no CHECK
    constraints, recorded or passed."""
    return (
        merger is None and deleted_col is None and not meta.get("mor_fold")
        and not meta.get("constraints") and not constraints
    )


class ConcurrentWriteConflict(RuntimeError):
    """An optimistic merge lost its commit race: between its snapshot
    read and its commit attempt, another writer committed a version
    that touched one of THIS merge's buckets (or changed the layout),
    and the retry budget ran out. The table is untouched — the loser's
    generations are unreferenced orphans `vacuum_bucket_versions`
    reclaims. Delta's ConcurrentAppend/ConcurrentDeleteRead shape."""


def _prepare_scoped_merge(
    spark: SparkSession,
    path: str,
    meta: dict,
    full: dict,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
    touched_hint: tuple | None = None,
) -> dict | None:
    """The WORK phase of a scoped merge, against the `full` manifest
    snapshot: read the touched target slice DV-applied, merge, enforce
    schema compatibility + CHECK constraints, write new generation dirs,
    harvest footer stats. Everything here is safe to run WITHOUT any
    lock — generation dirs are content-addressed and
    unreferenced until a commit names them, so a parallel writer doing
    the same can never collide on disk. Returns None for an empty
    batch; otherwise {touched, new_gens, stats, batch_schema, files,
    bytes} for a commit-assembly step to publish (serial or OCC).

    A default upsert (no merger, deleted_col, mor_fold or constraints)
    asks `_slice_gate("merge")`: when its batch is small it is
    collected once with its rows' buckets (one job) and the touched set
    is read off that collect; when the touched slice is plain and small
    too it is merged on the driver (`merge_upsert_arrow`) and written by
    the local writer, so the commit runs that one job. Otherwise the
    Spark merge below runs, with the collected touched set when there
    is one. Either way the schema union, the out-of-bucket check, the
    renames and the stats are the same.

    `touched_hint` = (n_buckets, bucket ids, the gate's answer for the
    batch collect) a caller already computed for THIS batch (the OCC
    admission path collects it for the commit intent): honored only
    when the layout matches the snapshot's, so a raced rebucket can
    never smuggle in stale bucket ids or buckets."""
    import pyarrow.compute as pc

    from .merge import merge_upsert_arrow, now_micros

    key = meta["key"]
    # the layout (bucket count) comes from the SNAPSHOT manifest, not
    # the static meta: a rebucket_versioned commit may have changed it
    n_buckets = full["n_buckets"]
    fold = meta.get("mor_fold")
    # table-level CHECK constraints (recorded at creation) plus any
    # per-call additions
    effective = dict(meta.get("constraints") or {})
    effective.update(constraints or {})
    hint = (
        touched_hint
        if touched_hint is not None and touched_hint[0] == n_buckets
        else None
    )
    gate = _slice_gate(
        "merge", path=path, full=full, frame=updates, key=key,
        n_buckets=n_buckets, now=now,
        custom=not _default_upsert(meta, deleted_col, merger, constraints),
        batch=hint[2] if hint is not None else None,
    )
    if hint is not None:
        touched = sorted(int(x) for x in hint[1])
    elif gate.batch is not None:
        touched = sorted(pc.unique(gate.batch["bucket"]).to_pylist())
    else:
        # bounded driver-side state: ≤ n_buckets ints, never row data
        touched = sorted(
            r[0]
            for r in updates.select(
                bucket_expr(key, n_buckets).alias("__b")
            ).distinct().collect()
        )
    if not touched:
        return None
    if gate.read is not None:
        target, batch, batch_schema = gate.read
        merged = merge_upsert_arrow(target, batch, key, now_micros(spark, now))
    else:
        # the target slice is read under the COMMITTED schema (a column
        # an earlier merge added may be absent from these buckets'
        # files), DELTA-FOLDED (merge-on-read generations supersede per
        # key), and DV-APPLIED: the rewrite FOLDS the deltas and
        # deletion vectors (neither survives into the new generation)
        # and the commit assembly clears both kinds of refs
        target = _read_snapshot_slice(spark, path, full, touched, key)
        if merger is not None:
            merged = merger(target, updates)
        elif deleted_col is not None:
            if fold:
                # tombstone deletes key on the bucket key ALONE — on a
                # keep-latest fold table (composite key) that would
                # delete every row of the key's group; route deletes
                # through merge_deletes_dv or a custom merger instead
                raise ValueError(
                    f"table {path} records a mor_fold policy (keys="
                    f"{fold['keys']}): deleted_col tombstones key on the "
                    f"bucket key alone and would collapse composite-key "
                    "groups — use merge_deletes_dv or a custom merger"
                )
            merged = merge_upsert_deletes(
                target, updates, key=key, deleted_col=deleted_col, now=now
            )
        elif fold:
            # a recorded keep-latest policy binds EVERY merge surface,
            # not just the MOR leg: the default upsert keys on the
            # bucket key alone, so a composite-key target would fan out
            # in its full-outer join and the corrupted result would
            # commit silently. Route the default CoW leg through the
            # same comparator the read-side fold and the MOR legs use.
            from .merge import keep_latest_merge

            merged = keep_latest_merge(
                target, updates,
                keys=list(fold["keys"]),
                order_by=[
                    F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                    for c, d in fold["order_by"]
                ],
                allow_missing_columns=True,
            )
        else:
            merged = merge_upsert(target, updates, key=key, now=now)

        batch_schema = _schema_of(merged)
    # a TYPE conflict against the snapshot schema raises HERE — before
    # a single byte lands — so a rejected batch leaves no orphans and
    # no bricked manifest (the commit step re-unions against whatever
    # manifest it actually publishes on)
    union0 = _union_schema(
        full.get("schema"), batch_schema, _reserved_phys(full)
    )
    pmap = _phys_map(union0)

    # CHECK constraints are enforced on the merged slice BEFORE a
    # single byte lands: a violating batch is rejected atomically
    # (no generations, no manifest, no orphans — readers never
    # know). The slice is persisted so the check and the write
    # compute the merge join once, not twice.
    persisted = False
    if effective:
        merged = merged.persist()
        persisted = True
    try:
        _enforce_constraints(merged, effective, path)
        new_gens = _write_generations(
            merged, path, key, n_buckets, touched, pmap=pmap,
            size=(full, touched, updates if gate.plan is None else gate.plan),
        )
    finally:
        if persisted:
            merged.unpersist()
    stats_touched: dict[str, dict] = {}
    files = bytes_ = 0
    for i in touched:
        g = new_gens.get(str(i))
        if g is None:  # every row of this bucket deleted
            continue
        st = _harvest_stats(path, i, g)
        stats_touched[str(i)] = st
        files += st["files"]
        bytes_ += st["bytes"]
    return {
        "touched": touched,
        "new_gens": new_gens,
        "stats": stats_touched,
        "batch_schema": batch_schema,
        "pmap": pmap,  # the mapping the generation FILES were written under
        "files": files,
        "bytes": bytes_,
    }


def _mapping_drift(
    commit_full: dict, batch_schema: dict, prep_pmap: dict | None
) -> str | None:
    """A concurrent ALTER inside an OCC window changes logical->
    physical bindings. This writer's generation files were written
    under the SNAPSHOT mapping — publishing them under a drifted
    mapping would mislabel their columns (readers scan the physical
    struct, so a mislabeled column silently reads NULL). The
    reserved-phys rule already kills the batch-uses-the-OLD-name
    interleaving loudly (the union re-adds the renamed-away name,
    which is reserved); this closes the quieter one — the batch
    already using the NEW name, where the union matches by name and
    would carry the rename's phys onto files that physically store the
    new name. Returns a conflict message (OCC retries; the retry
    re-prepares under the post-alter schema — a batch using the new
    name then writes correct physical names and lands, while a batch
    still using the old name re-raises SchemaConflict from the prepare
    phase, loudly, with the table untouched) or None when the mapping
    is stable."""
    try:
        u = _union_schema(
            commit_full.get("schema"), batch_schema,
            _reserved_phys(commit_full),
        )
    except SchemaConflict:
        # the union conflicts only against the CONCURRENT commit's
        # schema (prepare already unioned cleanly against its own
        # snapshot) — schema movement under the merge, same remedy:
        # retry from the fresh snapshot, which re-raises terminally
        # from prepare if the batch itself is at fault
        return (
            "schema changed under the merge (concurrent alter): "
            "re-preparing against the new snapshot"
        )
    if _phys_map(u) != (prep_pmap or {}):
        return (
            "column mapping changed under the merge (concurrent "
            "alter): generations were written under the snapshot "
            "mapping"
        )
    return None


def _assemble_scoped_commit(
    path: str, commit_full: dict, prep: dict, op: str = "merge"
) -> int:
    """Publish a prepared merge on top of `commit_full` (the manifest
    the commit actually lands on — the snapshot it was prepared
    against, or a NEWER disjoint manifest when the OCC path rebases).
    Stats and DV refs carry by reference for untouched buckets; the
    committed schema is the publish-base schema unioned with what the
    merge wrote (the union, not the batch schema alone, so a batch
    touching only manifest-absent buckets can't narrow the table; the
    rebase re-union can raise SchemaConflict when a concurrent commit
    introduced a conflicting type — the table stays untouched, this
    attempt's generations become vacuumable orphans). Must be called
    under _MERGELOCK."""
    manifest = dict(commit_full["buckets"])
    stats_all = dict(commit_full.get("stats") or {})
    committed_schema = _union_schema(
        commit_full.get("schema"), prep["batch_schema"],
        _reserved_phys(commit_full),
    )
    for i in prep["touched"]:
        g = prep["new_gens"].get(str(i))
        if g is None:  # every row of this bucket deleted
            manifest.pop(str(i), None)
            stats_all.pop(str(i), None)
            continue
        manifest[str(i)] = g
        stats_all[str(i)] = prep["stats"][str(i)]
    touched_set = set(prep["touched"])
    dv_all = {
        k2: list(v2)
        for k2, v2 in (commit_full.get("dv") or {}).items()
        if int(k2) not in touched_set
    }
    # merge-on-read deltas of the touched buckets were FOLDED into the
    # new generations (the target slice reads through them), so their
    # refs clear here; untouched buckets carry theirs by reference
    deltas_all = {
        k2: [dict(d) for d in v2]
        for k2, v2 in (commit_full.get("deltas") or {}).items()
        if int(k2) not in touched_set
    }
    v = max([commit_full["v"]] + _list_versions(path)) + 1
    _commit(
        path, v, manifest, commit_full["n_buckets"], committed_schema,
        stats_all, op=op, dv=dv_all, deltas=deltas_all,
        dead_phys=commit_full.get("dead_phys"),
        base_full=commit_full, changed=set(prep["touched"]),
    )
    return v


def merge_scoped_versioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
) -> dict:
    """Bucket-scoped OP-MERGE with an atomic cross-bucket commit.

    Write cost ∝ batch (new generations only for the touched buckets);
    commit = one manifest + one pointer replace, so readers never see a
    half-merged table and every pre-merge version remains time-
    travelable. Concurrent mergers serialize on `_MERGELOCK` (the
    read-merge-commit sequence is order-dependent only in timestamps,
    so serializing preserves every batch; writers that want the merge
    WORK to overlap use `merge_scoped_versioned_occ`, which holds the
    lock only for commit validation); a merger that crashes after
    writing generations but before the pointer replace leaves only
    unreferenced orphan dirs — readers stay on the old version and
    `vacuum_bucket_versions` reclaims the orphans.

    A commit whose touched slice (committed bytes, from the manifest
    stats) plus the batch (Spark's plan estimate) is at most
    LOCAL_WRITE_BYTES runs on the driver. A default upsert into plain
    generations (no deltas, no deletion vectors) collects the
    batch once, reads the slice with pyarrow, upserts in Arrow and
    writes one pyarrow file per bucket: one Spark job in all
    (`_prepare_scoped_merge`). Other small commits merge in Spark and
    write their generations on the driver: one toArrow() collect of
    the merged slice (`_write_generations`). Larger commits, and
    batches without an estimate, use the Spark merge and writer.
    Either way the schema union and CHECK constraints run before any
    byte lands.

    Returns {version, n_buckets, buckets_touched, files_rewritten,
    bytes_rewritten}.
    """

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        prep = _prepare_scoped_merge(
            spark, path, meta, full, updates, now=now,
            deleted_col=deleted_col, merger=merger, constraints=constraints,
        )
        if prep is None:
            return {
                "version": cur, "n_buckets": full["n_buckets"],
                "buckets_touched": 0, "files_rewritten": 0,
                "bytes_rewritten": 0,
            }
        v = _assemble_scoped_commit(path, full, prep, op="merge")
    return {
        "version": v, "n_buckets": full["n_buckets"],
        "buckets_touched": len(prep["touched"]),
        "files_rewritten": prep["files"], "bytes_rewritten": prep["bytes"],
    }


OCC_INTENT_DIR = "_occ_intents"
OCC_INTENT_TTL_S = 60.0
OCC_INTENT_POLL_S = 0.01


def _post_intent(path: str, buckets) -> str:
    """Advisory COMMIT INTENT: a tiny json file naming the buckets
    this writer is about to rewrite, posted BEFORE the expensive work
    phase. Later writers whose bucket sets intersect a live earlier
    intent wait at admission instead of burning a work phase they are
    guaranteed to lose. Purely advisory — OCC commit validation stays
    the correctness authority; a crashed writer's intent expires at
    OCC_INTENT_TTL_S and is unlinked by the next waiter. File names
    `intent-<ns-zero-padded>-<uuid>` give a total admission order
    (wait only for strictly-earlier conflicting intents -> acyclic,
    deadlock-free)."""
    d = os.path.join(path, OCC_INTENT_DIR)
    os.makedirs(d, exist_ok=True)
    name = f"intent-{time.time_ns():020d}-{uuid.uuid4().hex}.json"
    final = os.path.join(d, name)
    with fsio.atomic_file(final) as f:
        json.dump({"buckets": sorted(int(b) for b in buckets)}, f)
    return final


def _await_intent_turn(
    path: str,
    my_intent: str,
    my_buckets,
) -> bool:
    """Block until no LIVE intent strictly earlier than `my_intent`
    names a bucket in `my_buckets` (or OCC_INTENT_TTL_S elapses — then
    the writer proceeds optimistically and OCC sorts it out). Stale
    intents (older than the TTL) never block and are reclaimed.
    Returns whether any waiting happened (metrics/tests)."""
    d = os.path.join(path, OCC_INTENT_DIR)
    my_name = os.path.basename(my_intent)
    mine = {int(b) for b in my_buckets}
    deadline = time.monotonic() + OCC_INTENT_TTL_S
    waited = False
    while True:
        blocked = False
        try:
            names = sorted(os.listdir(d))
        except FileNotFoundError:
            return waited
        for n in names:
            if not n.startswith("intent-") or n >= my_name:
                continue
            fp = os.path.join(d, n)
            try:
                ts_ns = int(n.split("-")[1])
            except (IndexError, ValueError):
                continue
            if time.time_ns() - ts_ns > OCC_INTENT_TTL_S * 1e9:
                try:
                    os.unlink(fp)  # crashed writer: reclaim
                except OSError:
                    pass
                continue
            try:
                with open(fp) as f:
                    theirs = set(json.load(f)["buckets"])
            except (OSError, ValueError, KeyError):
                continue  # removed under us: its writer committed
            if theirs & mine:
                blocked = True
                break
        if not blocked or time.monotonic() >= deadline:
            return waited
        waited = True
        time.sleep(OCC_INTENT_POLL_S)


def merge_scoped_versioned_occ(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
    max_retries: int = 3,
    pre_commit_hook=None,
) -> dict:
    """OPTIMISTIC concurrency for scoped merges — Delta/Iceberg's
    multi-writer commit protocol: the expensive phase (target read,
    merge join, constraint scan, generation writes) runs with NO lock
    held, so concurrent writers' Spark jobs genuinely overlap; only
    commit VALIDATION serializes (manifest arithmetic under
    `_MERGELOCK`, milliseconds). At validation:

    * nothing committed since the snapshot -> publish as usual;
    * intervening commits touched only DISJOINT buckets under the same
      layout -> REBASE: publish on the newest manifest, carrying its
      buckets/stats/DV refs and re-unioning its schema — sound because
      a scoped merge reads and writes ONLY its touched buckets, so the
      result equals running it after the intervening commits
      (serializable, the two-writer law test hash-proves it);
    * a touched bucket changed, or the layout changed (rebucket /
      reload) -> this attempt's generations are abandoned as
      vacuumable orphans and the merge RETRIES from the new snapshot
      (fresh target slice, so upsert semantics stay exact), up to
      `max_retries`; exhaustion raises `ConcurrentWriteConflict` with
      the table untouched.

    Why this matters at 100 TB: the serial path makes N concurrent
    nightly feeds take N x (read+join+write) wall-clock even when they
    touch disjoint buckets; under OCC their cluster work overlaps and
    only the pointer dance serializes. Same guarantees as the serial
    path otherwise (atomic cross-bucket commit, time travel, crash =
    orphans). `pre_commit_hook` is a test seam: called after the work
    phase, before the commit lock — the race-window injection the
    two-writer laws use.

    Returns the serial path's dict plus {rebased, attempts,
    buckets_reused}.

    RETRY REUSE (VERDICT r11 item 3): a loser does NOT redo its whole
    work phase. Its already-written generations are immutable and, for
    every touched bucket the winner did NOT move, content-identical to
    what a re-run from the new snapshot would produce (a scoped merge
    computes each bucket's generation from that bucket's target slice
    + that bucket's batch rows alone — both unchanged). So the retry
    CARRIES those generations (tracking the version through which each
    carried bucket is validated-unchanged) and recomputes only the
    conflicted buckets' slice of the batch. OCCBENCH's cow_overlap
    rung measured 0.7x serial with whole-work retries; reuse makes the
    redo ∝ conflicted buckets. A layout change, a vacuumed carried
    snapshot or a mapping drift (a raced rename) drops the carry and
    redoes the whole batch.

    ADMISSION (VERDICT r12 item 2): reuse cannot help when EVERY
    bucket conflicts (full overlap — the reuse set is empty by
    construction), so each loser still burns a whole work phase:
    cow_overlap measured 0.64x serial. The fix is contention-aware
    admission: before the work phase the writer posts an advisory
    COMMIT INTENT naming its buckets and waits for earlier live
    intents that intersect (total order by timestamp -> deadlock-
    free; TTL-bounded -> a crashed writer stalls others at most
    OCC_INTENT_TTL_S, never wedges). Fully-overlapping writers thus
    serialize at admission — wall ≈ serial, attempts ≈ 1, zero
    orphans — while disjoint writers still overlap completely.
    Advisory only: OCC validation remains the correctness authority,
    so a timed-out or raced admission degrades to the reuse-retry
    path, never to a wrong result. Admission is on exactly when
    `pre_commit_hook` is None: the hook is the law tests' race-
    injection seam, and admission would serialize away the very race
    those tests construct (a barrier hook would deadlock against the
    wait).
    """
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    intent = None
    if pre_commit_hook is None:
        n_b = _root_n_buckets(path, latest_version(path))
        # a small default upsert's batch is collected once here: the
        # intent's buckets come off that collect, and the first attempt
        # merges it
        batch = _slice_gate(
            "merge", frame=updates, key=meta["key"], n_buckets=n_b,
            custom=not _default_upsert(meta, deleted_col, merger, constraints),
        )
        if batch.batch is not None:
            import pyarrow.compute as pc

            my_buckets = sorted(pc.unique(batch.batch["bucket"]).to_pylist())
        else:
            my_buckets = sorted(
                r[0]
                for r in updates.select(
                    bucket_expr(meta["key"], n_b).alias("b")
                ).distinct().collect()
            )
        intent = _post_intent(path, my_buckets)
    try:
        return _merge_scoped_versioned_occ_loop(
            spark, path, updates, meta, now, deleted_col, merger,
            constraints, max_retries, pre_commit_hook,
            intent, my_buckets if intent else (),
            touched_hint=(n_b, my_buckets, batch) if intent else None,
        )
    finally:
        if intent is not None:
            try:
                os.unlink(intent)
            except OSError:
                pass


def _merge_scoped_versioned_occ_loop(
    spark, path, updates, meta, now, deleted_col, merger, constraints,
    max_retries, pre_commit_hook, intent, my_buckets, touched_hint=None,
) -> dict:

    attempts = 0
    # carried state from failed attempts: per-bucket generation (None
    # = the merge deleted every row of the bucket), stats, and the
    # batch-schema union; carry_v = the version through which every
    # carried bucket is proven unchanged
    carry_gens: dict[str, str | None] = {}
    carry_stats: dict[str, dict] = {}
    carry_schema: dict | None = None
    carry_v: int | None = None
    pending = updates
    while True:
        attempts += 1
        if intent is not None:
            # admission: take the snapshot only after earlier
            # conflicting intents clear, so the work phase runs
            # against a base those writers already committed into
            _await_intent_turn(path, intent, my_buckets)
        base_v = latest_version(path)
        base_full = _load_manifest_full(path, base_v)
        prep = _prepare_scoped_merge(
            spark, path, meta, base_full, pending, now=now,
            deleted_col=deleted_col, merger=merger, constraints=constraints,
            # the admission collect doubles as the touched set and the
            # collected batch, but only while `pending` is still the
            # whole original batch
            # (retries slice it down to the conflicted buckets)
            touched_hint=touched_hint if pending is updates else None,
        )
        if prep is None and not carry_gens:
            return {
                "version": base_v, "n_buckets": base_full["n_buckets"],
                "buckets_touched": 0, "files_rewritten": 0,
                "bytes_rewritten": 0, "rebased": False,
                "attempts": attempts, "buckets_reused": 0,
            }
        fresh_touched = set(prep["touched"]) if prep else set()
        batch_schema = (
            _union_schema(carry_schema, prep["batch_schema"], set())
            if prep is not None and carry_schema is not None
            else (prep["batch_schema"] if prep else carry_schema)
        )
        if pre_commit_hook is not None:
            pre_commit_hook()
        conflict = None
        full_reset = False
        retry_buckets: set[int] = set()
        with fsio.locked(f"{path}/_MERGELOCK"):
            cur = latest_version(path)
            cur_full = (
                base_full if cur == base_v
                else _load_manifest_full(path, cur)
            )
            if cur_full["n_buckets"] != base_full["n_buckets"]:
                conflict = (
                    f"layout changed under the merge "
                    f"({base_full['n_buckets']} -> "
                    f"{cur_full['n_buckets']} buckets)"
                )
                full_reset = True
            else:
                changed_f = (
                    _changed_sig_buckets(base_full, cur_full)
                    & fresh_touched
                    if cur != base_v else set()
                )
                changed_c: set[int] = set()
                if carry_gens:
                    try:
                        carry_full = (
                            cur_full if carry_v == cur
                            else _load_manifest_full(path, carry_v)
                        )
                        changed_c = _changed_sig_buckets(
                            carry_full, cur_full
                        ) & {int(b) for b in carry_gens}
                    except FileNotFoundError:
                        # the carried snapshot was vacuumed between
                        # attempts: unprovable — drop the carry
                        conflict = (
                            f"carried snapshot v{carry_v} vacuumed "
                            "under the retry"
                        )
                        full_reset = True
                if conflict is None and (changed_f or changed_c):
                    conflict = (
                        f"buckets {sorted(changed_f | changed_c)} "
                        f"changed by a concurrent commit "
                        f"(v{base_v} -> v{cur})"
                    )
                    retry_buckets = set(changed_f) | set(changed_c)
                if conflict is None:
                    conflict = _mapping_drift(
                        cur_full, batch_schema,
                        prep.get("pmap") if prep else None,
                    )
                    if conflict is not None:
                        # a rename raced: carried generations may be
                        # physically mislabeled too — recompute all
                        full_reset = True
                if conflict is None:
                    combined = {
                        "touched": sorted(
                            fresh_touched
                            | {int(b) for b in carry_gens}
                        ),
                        "new_gens": {
                            **{
                                b: g for b, g in carry_gens.items()
                                if g is not None
                            },
                            **(prep["new_gens"] if prep else {}),
                        },
                        "stats": {
                            **carry_stats,
                            **(prep["stats"] if prep else {}),
                        },
                        "batch_schema": batch_schema,
                    }
                    v = _assemble_scoped_commit(path, cur_full, combined)
                    rebased = cur != base_v or bool(carry_gens)
        if conflict is None:
            committed_stats = [
                combined["stats"][str(i)]
                for i in combined["touched"]
                if str(i) in combined["new_gens"]
            ]
            return {
                "version": v, "n_buckets": base_full["n_buckets"],
                "buckets_touched": len(combined["touched"]),
                "files_rewritten": sum(
                    s.get("files", 1) for s in committed_stats
                ),
                "bytes_rewritten": sum(
                    s["bytes"] for s in committed_stats
                ),
                "rebased": rebased, "attempts": attempts,
                "buckets_reused": len(carry_gens),
            }
        if attempts > max_retries:
            raise ConcurrentWriteConflict(
                f"merge on {path} lost its commit race {attempts} times "
                f"(last: {conflict}); generations from the failed "
                "attempts are unreferenced orphans for vacuum"
            )
        if full_reset:
            carry_gens, carry_stats = {}, {}
            carry_schema, carry_v = None, None
            pending = updates
            continue
        # carry forward every touched bucket the winner did NOT move;
        # recompute only the conflicted slice of the ORIGINAL batch
        new_carry: dict[str, str | None] = {}
        new_stats: dict[str, dict] = {}
        for b, g in carry_gens.items():
            if int(b) not in retry_buckets:
                new_carry[b] = g
                if b in carry_stats:
                    new_stats[b] = carry_stats[b]
        if prep is not None:
            for i in prep["touched"]:
                if int(i) in retry_buckets:
                    continue
                g = prep["new_gens"].get(str(i))
                new_carry[str(i)] = g
                if g is not None:
                    new_stats[str(i)] = prep["stats"][str(i)]
        carry_gens, carry_stats = new_carry, new_stats
        carry_schema = batch_schema
        carry_v = cur
        pending = updates.filter(
            bucket_expr(meta["key"], base_full["n_buckets"]).isin(
                sorted(retry_buckets)
            )
        )


def merge_scoped_versioned_mor(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    constraints: dict[str, str] | None = None,
    max_depth: int = 8,
    occ: bool = False,
    max_retries: int = 3,
    pre_commit_hook=None,
) -> dict:
    """MERGE-ON-READ upsert — the Delta deletion-vector / Iceberg
    merge-on-read WRITE economics for updates: the batch lands as a
    DELTA generation per touched bucket (write cost ∝ BATCH ROWS, no
    target read, no join, no bucket rewrite — the copy-on-write path
    rewrites every touched bucket whole, so a 1-row update to a 25 MB
    bucket costs 25 MB there and ~1 KB here), and reads reproduce
    upsert semantics through `_read_snapshot_slice`'s ordinal fold
    (per column, last non-null across base + deltas wins — exactly
    chained `merge_upsert`, including the audit-column rules; the
    equivalence law in tests/test_merge_versioned.py hash-compares a
    MOR table against a CoW clone at every version).

    What bounds the read-side debt:

    * a bucket's delta chain is capped at `max_depth`: a batch landing
      on a bucket already at the cap LEVELS it — that bucket (only)
      folds base+deltas+batch into a fresh base generation, LSM-style
      amortization, cost ∝ that bucket;
    * any copy-on-write merge / optimize / rebucket touching a bucket
      FOLDS its deltas and clears the refs; `compact_versioned` does
      it on demand;
    * value-predicate skipping degrades to bucket grain for
      delta-carrying buckets (the per-column fold makes sub-bucket
      skips unsound — prune_files routes them whole) and recovers at
      the next fold.

    Deletion-vector interplay: DV refs are ORDINAL-SCOPED ({"n", "d"}
    — a delete kills generations at ordinal <= d, the chain depth at
    its commit), so a MOR delta landing after a delete re-inserts by
    simply sitting above it, and a PARTIAL re-insert gets insert
    semantics: the dead base row's other columns never resurface
    through the fold (a bucket-global DV would either keep deleting
    the new row or, if subtracted, resurrect the whole old row — both
    diverge from the CoW result the equivalence law pins).

    CHECK constraints force a folded read of the touched slice (the
    constraint must see the EFFECTIVE merged row — a cross-column
    CHECK can be violated by the combination of old and new columns
    even when each side passes alone), so constrained tables keep CoW
    read costs on their merges; unconstrained tables get the pure
    batch-∝ write. Plain upsert only (unique bucket key): tables
    maintained by a custom `merger` or tombstone deletes keep the
    copy-on-write legs.

    `occ=True` runs the whole work phase (classification, constraint
    fold, generation writes, harvest) with NO lock held and
    validates at commit exactly like `merge_scoped_versioned_occ`:
    same-snapshot -> publish; bucket-signature-disjoint intervening
    commits -> REBASE onto the newest manifest (sound: disjointness
    means this merge's buckets — base, deltas AND DV refs — are
    untouched, so its delta appends and levelings compose with the
    winner's commit exactly as if run after it); overlap/layout ->
    retry from the fresh snapshot, exhaustion raises
    ConcurrentWriteConflict with only vacuumable orphans left. This
    is the concurrent-ingestion shape (N feeds MOR-appending all
    night): the serial lock would stack even their batch-∝ writes.

    SAME-BUCKET appends ORDINAL-COMPOSE instead of retrying (round-11:
    the append-only case is commutative): when every overlapping
    bucket took this writer's pure delta leg and the winner only
    EXTENDED that bucket's chain (base generation, DV refs and the
    delta prefix unchanged, chain below max_depth, no CHECK
    constraints), publishing on the winner's manifest appends this
    writer's deltas at the next ordinals — exactly the sequential
    loser-after-winner content, proven by the fold laws — with zero
    retries. Anything else (base moved, DV changed, leveling due,
    constraints) stays a hard conflict and retries as before.

    Returns {version, n_buckets, buckets_touched, delta_buckets,
    leveled_buckets, files_written, bytes_written, rebased, attempts,
    composed} — `composed` lists the buckets that ordinal-composed.
    """

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    attempts = 0
    while True:
        attempts += 1
        conflict = None
        composed: list = []
        # the serial path holds the merge lock for the whole attempt;
        # OCC takes it only for commit validation
        with contextlib.ExitStack() as held:
            if not occ:
                held.enter_context(fsio.locked(f"{path}/_MERGELOCK"))
            result = _mor_attempt(
                spark, path, meta, updates, now, constraints, max_depth,
            )
            if result["empty"]:
                return {
                    "version": result["cur"],
                    "n_buckets": result["n_buckets"],
                    "buckets_touched": 0, "delta_buckets": 0,
                    "leveled_buckets": 0, "files_written": 0,
                    "bytes_written": 0, "rebased": False,
                    "attempts": attempts,
                }
            if occ:
                if pre_commit_hook is not None:
                    pre_commit_hook()
                held.enter_context(fsio.locked(f"{path}/_MERGELOCK"))
                cur2 = latest_version(path)
                if cur2 == result["cur"]:
                    v = result["publish"](result["full"])
                    rebased = False
                else:
                    cur_full2 = _load_manifest_full(path, cur2)
                    if cur_full2["n_buckets"] != result["n_buckets"]:
                        conflict = (
                            f"layout changed under the merge "
                            f"({result['n_buckets']} -> "
                            f"{cur_full2['n_buckets']} buckets)"
                        )
                    else:
                        overlap = _changed_sig_buckets(
                            result["full"], cur_full2
                        ) & set(result["touched"])
                        hard = (
                            _mor_compose_conflicts(
                                result, cur_full2, overlap, max_depth
                            )
                            if overlap
                            else []
                        )
                        if hard:
                            conflict = (
                                f"buckets {hard} changed by "
                                f"a concurrent commit "
                                f"(v{result['cur']} -> v{cur2})"
                            )
                        elif (
                            drift := _mapping_drift(
                                cur_full2, result["batch_schema"],
                                result["pmap"],
                            )
                        ) is not None:
                            conflict = drift
                        else:
                            # disjoint buckets rebase as before;
                            # overlapping extension-only delta buckets
                            # ORDINAL-COMPOSE: publish(cur_full2)
                            # appends this writer's deltas above the
                            # winner's — the sequential outcome,
                            # without a retry
                            v = result["publish"](cur_full2)
                            rebased = True
                            composed = sorted(overlap)
            else:
                v = result["publish"](result["full"])
                rebased = False
        if conflict is None:
            return {
                "version": v, "n_buckets": result["n_buckets"],
                "buckets_touched": len(result["touched"]),
                "delta_buckets": result["delta_buckets"],
                "leveled_buckets": result["leveled_buckets"],
                "files_written": result["files"],
                "bytes_written": result["bytes"],
                "rebased": rebased, "attempts": attempts,
                "composed": composed,
            }
        if attempts > max_retries:
            raise ConcurrentWriteConflict(
                f"MOR merge on {path} lost its commit race {attempts} "
                f"times (last: {conflict}); generations from the failed "
                "attempts are unreferenced orphans for vacuum"
            )


def _mor_compose_conflicts(
    result: dict, cur_full: dict, overlap: set, max_depth: int
) -> list:
    """Which overlapping buckets CANNOT ordinal-compose? Two MOR
    writers appending deltas to the SAME bucket are commutative-by-
    construction when the winner only EXTENDED the delta chain: this
    loser's delta simply takes the next ordinal above the winner's
    (exactly what publish(cur_full) assigns), which IS the sequential
    loser-after-winner outcome — for plain ordinal tables because the
    fold is last-non-null by ordinal and the delta content never
    depended on the snapshot, for keep-latest fold tables because the
    intrinsic comparator decides regardless of arrival order. A bucket
    stays a HARD conflict (retry from a fresh snapshot) when:

    * this writer wrote a BASE generation for it (absent-bucket or
      leveling leg — both computed a fold against the old snapshot);
    * the winner moved its base generation, changed its DV refs, or
      rewrote (rather than extended) its delta chain — the compose
      precondition is extension-only;
    * the winner filled the chain to max_depth — the bucket owes a
      leveling fold, which must see the real snapshot;
    * the table has CHECK constraints (the constraint fold ran against
      the pre-race snapshot; composing could commit a combination the
      check never saw).
    """
    if result.get("has_constraints"):
        return sorted(overlap)
    base_full = result["full"]
    mor_set = set(result.get("mor") or [])
    b_buckets = base_full["buckets"]
    c_buckets = cur_full["buckets"]
    b_dv = base_full.get("dv") or {}
    c_dv = cur_full.get("dv") or {}
    b_dl = base_full.get("deltas") or {}
    c_dl = cur_full.get("deltas") or {}
    hard = []
    for i in sorted(overlap):
        si = str(i)
        bd = [d["g"] for d in b_dl.get(si, [])]
        cd = [d["g"] for d in c_dl.get(si, [])]
        if (
            i not in mor_set
            or c_buckets.get(si) != b_buckets.get(si)
            or [_dv_ref(e) for e in c_dv.get(si, [])]
            != [_dv_ref(e) for e in b_dv.get(si, [])]
            or cd[: len(bd)] != bd
            or len(cd) >= max_depth
        ):
            hard.append(i)
    return hard


def _mor_attempt(
    spark: SparkSession,
    path: str,
    meta: dict,
    updates: DataFrame,
    now,
    constraints: dict[str, str] | None,
    max_depth: int,
) -> dict:
    """One MOR work pass against the current committed snapshot. All
    disk effects are unreferenced generation dirs until the returned
    `publish(commit_full)` closure assembles and commits a manifest —
    publish against the snapshot it
    was prepared on (serial / no-race OCC) or against a newer
    signature-disjoint manifest (OCC rebase)."""
    key = meta["key"]
    cur = latest_version(path)
    full = _load_manifest_full(path, cur)
    n_buckets = full["n_buckets"]
    manifest = full["buckets"]
    b = bucket_expr(key, n_buckets)
    touched = sorted(
        r[0]
        for r in updates.select(b.alias("__b")).distinct().collect()
    )
    if not touched:
        return {"empty": True, "cur": cur, "n_buckets": n_buckets}
    fold = meta.get("mor_fold")
    if fold:
        # keep-latest tables (recorded policy): rows are whole
        # events ranked by an intrinsic comparator at read time —
        # the batch lands verbatim, no audit stamping
        stamped = updates
    else:
        now_col = (
            F.lit(now).cast("timestamp") if now is not None
            else F.current_timestamp()
        )
        from .merge import AUDIT_COLS

        stamped = updates.select(
            key,
            *[
                c for c in updates.columns
                if c != key and c not in AUDIT_COLS
            ],
            now_col.alias("created_at"),
            now_col.alias("updated_at"),
        )
    batch_schema = _schema_of(stamped)
    # type-conflict check BEFORE any byte lands (publish re-unions
    # against whatever manifest it actually commits on)
    union0 = _union_schema(
        full.get("schema"), batch_schema, _reserved_phys(full)
    )
    pmap = _phys_map(union0)

    deltas_all = {
        k2: [dict(d) for d in v2]
        for k2, v2 in (full.get("deltas") or {}).items()
    }
    absent = [i for i in touched if str(i) not in manifest]
    capped = [
        i for i in touched
        if str(i) in manifest
        and len(deltas_all.get(str(i), [])) >= max_depth
    ]
    mor = [i for i in touched if i not in set(absent) | set(capped)]

    effective = dict(meta.get("constraints") or {})
    effective.update(constraints or {})
    if effective:
        # CHECK must see the EFFECTIVE merged rows: fold the
        # current touched slice under the batch (one read — the
        # price of constraints on a MOR table)
        target = _read_snapshot_slice(spark, path, full, touched, key)
        layered = stamped.withColumn("__ord", F.lit(1))
        if target is not None:
            for col, typ in [
                (f.name, f.dataType)
                for f in target.schema.fields
                if f.name not in stamped.columns
            ]:
                layered = layered.withColumn(
                    col, F.lit(None).cast(typ)
                )
            base_l = target.withColumn("__ord", F.lit(0))
            for col, typ in [
                (f.name, f.dataType)
                for f in stamped.schema.fields
                if f.name not in target.columns
            ]:
                base_l = base_l.withColumn(col, F.lit(None).cast(typ))
            layered = base_l.unionByName(layered)
        folded_eff = (
            _fold_rows(layered, fold) if fold
            else _fold_ordinals(layered, key)
        )
        _enforce_constraints(folded_eff, effective, path)

    files = bytes_ = 0

    # delta + absent legs: ONE generation-write job over the batch
    # rows only — this is the whole write cost for those buckets
    light = absent + mor
    new_gens: dict[str, str] = {}
    if light:
        # filter by the CAPPED complement: capped buckets are the
        # few at max_depth, while `light` can be thousands wide —
        # an isin over the small set keeps the plan literal-free
        part = (
            stamped.filter(~b.isin([int(i) for i in capped]))
            if capped
            else stamped
        )
        if fold:
            # fold tables: dedup the batch by the intrinsic
            # comparator BEFORE it lands — a raw batch can carry
            # several rows per composite key, and a base
            # generation (absent-bucket leg) is read on the
            # depth-0 fast path, which must be able to trust that
            # generations hold final-state rows. Also shrinks the
            # delta layers for free (what the CoW merger's window
            # would have discarded anyway).
            from .merge import keep_latest_merge

            part = keep_latest_merge(
                None, part,
                keys=list(fold["keys"]),
                order_by=[
                    F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                    for c, d in fold["order_by"]
                ],
                allow_missing_columns=True,
            )
        new_gens = _write_generations(
            part, path, key, n_buckets, light, pmap=pmap,
            size=(None, (), stamped),
        )
    # leveling leg: capped buckets fold base+deltas+batch into a
    # fresh base generation (cost ∝ those buckets)
    leveled_gens: dict[str, str] = {}
    if capped:
        target_l = _read_snapshot_slice(spark, path, full, capped, key)
        batch_l = stamped.filter(b.isin([int(i) for i in capped]))
        if fold:
            from .merge import keep_latest_merge

            merged_l = keep_latest_merge(
                target_l, batch_l,
                keys=list(fold["keys"]),
                order_by=[
                    F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                    for c, d in fold["order_by"]
                ],
                allow_missing_columns=True,
            )
        else:
            merged_l = merge_upsert(
                target_l, updates.filter(
                    b.isin([int(i) for i in capped])
                ), key=key, now=now,
            )
        leveled_gens = _write_generations(
            merged_l, path, key, n_buckets, capped, pmap=pmap,
            size=(full, capped, updates),
        )
    harvested: dict[str, dict] = {}
    for gens in (new_gens, leveled_gens):
        for i, g in gens.items():
            st = _harvest_stats(path, int(i), g)
            harvested[i] = st
            files += st["files"]
            bytes_ += st["bytes"]

    def publish(commit_full: dict) -> int:
        """Assemble and commit this attempt on `commit_full` — the
        snapshot it was prepared on, or a newer signature-disjoint
        manifest (OCC rebase: the touched buckets' base/deltas/DV are
        unchanged by construction, so the appends and levelings
        compose as if run after the intervening commits). Must be
        called under _MERGELOCK. DV refs stay ORDINAL-SCOPED: a new
        delta re-inserting a deleted key simply sits above the DV —
        no subtraction, and a PARTIAL re-insert gets insert semantics
        (the dead base row's other columns stay dead, exactly the CoW
        result)."""
        manifest2 = dict(commit_full["buckets"])
        stats2 = dict(commit_full.get("stats") or {})
        deltas2 = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (commit_full.get("deltas") or {}).items()
        }
        dv2 = {
            k2: list(v2)
            for k2, v2 in (commit_full.get("dv") or {}).items()
        }
        committed_schema = _union_schema(
            commit_full.get("schema"), batch_schema,
            _reserved_phys(commit_full),
        )
        absent_set = {str(a) for a in absent}
        for i, g in new_gens.items():
            if i in absent_set:
                manifest2[i] = g
                stats2[i] = harvested[i]
            else:
                deltas2.setdefault(i, []).append(
                    {"g": g, "stats": harvested[i]}
                )
        for i in capped:
            si = str(i)
            g = leveled_gens.get(si)
            if g is None:  # cannot happen for an upsert (no deletes)
                manifest2.pop(si, None)
                stats2.pop(si, None)
            else:
                manifest2[si] = g
                stats2[si] = harvested[si]
            deltas2.pop(si, None)  # folded into the new base
            dv2.pop(si, None)  # folded too (slice read DV-applied)
        v = max([commit_full["v"]] + _list_versions(path)) + 1
        _commit(
            path, v, manifest2, n_buckets, committed_schema, stats2,
            op="merge-mor", dv=dv2, deltas=deltas2,
            dead_phys=commit_full.get("dead_phys"),
            base_full=commit_full, changed=set(touched),
        )
        return v

    return {
        "empty": False,
        "cur": cur,
        "full": full,
        "n_buckets": n_buckets,
        "touched": touched,
        "mor": mor,  # the pure delta-append legs (compose candidates)
        "has_constraints": bool(effective),
        "batch_schema": batch_schema,
        "pmap": pmap,
        "delta_buckets": len(mor) + len(absent),
        "leveled_buckets": len(capped),
        "files": files,
        "bytes": bytes_,
        "publish": publish,
    }


def alter_bucket_table_versioned(
    path: str,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> dict:
    """RENAME / DROP COLUMN without touching a data file — Delta's
    column-mapping (name mode) economics: one metadata-only commit.

    A renamed column keeps its birth-time PHYSICAL name (recorded in
    the schema field metadata as "phys"); every read runs the scan
    under the physical schema and projects to logical names
    (`_read_dirs`), every write projects back (`_write_generations`),
    and stats pruning translates predicates — so rename costs one
    manifest, not a table rewrite. A dropped column simply leaves the
    schema; its bytes linger in old files, unread, and its physical
    name goes into the manifest's `dead_phys` reservation: a later
    merge may NOT add a column whose name collides with a dead or
    renamed-away physical name (SchemaConflict — reusing it would read
    the old column's bytes into the new one; a full reload rewrites
    files and clears mappings, freeing the names).

    Time travel is exact: pre-alter versions read under their own
    schemas with the old names. The change feed across an alter
    boundary reports a rename as drop+add (name-mode mapping has no
    column identity across versions — Delta's CDF has the same shape).

    Guard rails: the bucket KEY is not renameable/droppable (bucketing,
    point lookups and DVs are keyed on it); columns referenced by
    recorded CHECK constraints or the mor_fold policy must be released
    from those first (raise). Returns {version, schema_columns}.
    """
    import re

    rename = dict(rename or {})
    drop = list(drop or [])
    if not rename and not drop:
        raise ValueError("alter: nothing to do (no rename, no drop)")
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    touched_cols = set(rename) | set(drop)
    if key in touched_cols:
        raise ValueError(
            f"alter may not rename or drop the bucket key {key!r}"
        )
    for cname, expr in (meta.get("constraints") or {}).items():
        hit = sorted(
            c for c in touched_cols
            if re.search(rf"\b{re.escape(c)}\b", expr)
        )
        if hit:
            raise ValueError(
                f"alter touches column(s) {hit} referenced by CHECK "
                f"constraint {cname!r} ({expr!r}) — update or clear "
                "the constraint first (reload with constraints=...)"
            )
    fold = meta.get("mor_fold")
    if fold:
        fold_cols = set(fold.get("keys", [])) | {
            c for c, _d in fold.get("order_by", [])
        }
        hit = sorted(touched_cols & fold_cols)
        if hit:
            raise ValueError(
                f"alter touches column(s) {hit} referenced by the "
                "mor_fold policy — not renameable in place"
            )
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        schema = full.get("schema")
        if schema is None:
            raise ValueError(
                f"alter needs a recorded schema on {path} (tables "
                "written before schema recording must reload first)"
            )
        names = {f["name"] for f in schema["fields"]}
        missing = sorted(touched_cols - names)
        if missing:
            raise ValueError(f"alter: no such column(s) {missing}")
        taken = (names - set(drop) - set(rename)) | set(rename.values())
        if len(taken) != len(names) - len(drop):
            raise ValueError(
                f"alter: rename targets collide with existing columns "
                f"({sorted(set(rename.values()) & (names - set(rename)))})"
            )
        dead = set(full.get("dead_phys") or [])
        new_fields = []
        for f in schema["fields"]:
            phys = (f.get("metadata") or {}).get("phys") or f["name"]
            if f["name"] in drop:
                dead.add(phys)
                continue
            if f["name"] in rename:
                f = {
                    **f,
                    "name": rename[f["name"]],
                    "metadata": {
                        **(f.get("metadata") or {}), "phys": phys,
                    },
                }
            new_fields.append(f)
        new_schema = {**schema, "fields": new_fields}
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, dict(full["buckets"]), full["n_buckets"],
            new_schema, full.get("stats"),
            op="alter:" + ",".join(
                [f"{a}->{b}" for a, b in sorted(rename.items())]
                + [f"-{c}" for c in sorted(drop)]
            ),
            dv=full.get("dv"), deltas=full.get("deltas"),
            dead_phys=sorted(dead),
            # metadata-only: every bucket entry is byte-identical, so
            # the commit reuses EVERY shard file (root only)
            base_full=full, changed=set(),
        )
    return {"version": v, "schema_columns": len(new_fields)}


def compact_versioned(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> dict:
    """Fold merge-on-read DELTAS and DELETION VECTORS into fresh base
    generations — one content-neutral committed version (the law test
    hash-compares before/after), restoring single-generation reads
    and sub-bucket data skipping for the folded buckets. Default
    scope: every bucket that currently carries deltas or DV refs
    (cost ∝ the un-compacted subset, untouched buckets carried by
    manifest reference — the incremental cadence a 100 TB table runs
    off-peak, exactly Delta's REORG/OPTIMIZE shape for DV tables).
    Returns {version, buckets_compacted}."""

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        manifest = dict(full["buckets"])
        dirty = sorted(
            {int(i) for i in (full.get("deltas") or {})}
            | {int(i) for i in (full.get("dv") or {}) if i in manifest}
        )
        # default scope: dirty buckets only. An EXPLICIT bucket list
        # folds those buckets regardless of dirtiness — the re-layout
        # hook (a clean bucket rewrites content-neutrally).
        target = (
            dirty if buckets is None
            else sorted(
                {int(i) for i in buckets}
                & {int(i) for i in manifest}
            )
        )
        if not target:
            return {"version": cur, "buckets_compacted": 0}
        folded = _read_snapshot_slice(spark, path, full, target, key)
        gens = (
            _write_generations(
                folded, path, key, n_buckets, target,
                pmap=_phys_map(full.get("schema")),
                size=(full, target, None),
            )
            if folded is not None
            else {}
        )
        stats_all = dict(full.get("stats") or {})
        for i in target:
            si = str(i)
            g = gens.get(si)
            if g is None:  # every row of the bucket was DV-deleted
                manifest.pop(si, None)
                stats_all.pop(si, None)
            else:
                manifest[si] = g
                stats_all[si] = _harvest_stats(path, i, g)
        tset = {str(i) for i in target}
        dv_all = {
            k2: list(v2)
            for k2, v2 in (full.get("dv") or {}).items()
            if k2 not in tset
        }
        deltas_all = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (full.get("deltas") or {}).items()
            if k2 not in tset
        }
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, manifest, n_buckets, full.get("schema"), stats_all,
            op="compact", dv=dv_all, deltas=deltas_all,
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(target),
        )
    return {"version": v, "buckets_compacted": len(target)}


def rebucket_versioned(
    spark: SparkSession, path: str, new_n_buckets: int
) -> dict:
    """Online layout migration: re-hash the table into `new_n_buckets`
    buckets as ONE committed version — zero downtime, content-neutral.

    The decade bench (MERGEBENCH_4096.json) shows why this must exist:
    n_buckets ∝ table size keeps per-bucket size constant, so a table
    that grew 10x wants 10x the buckets — but the bucket count is
    baked into every directory name. With the versioned layout the
    migration is just another commit: read the current snapshot, write
    generations under the NEW hash modulus (generation names are
    content-addressed uuids, so the two layouts coexist under the same
    bucket=<i> dirs without collision), publish a manifest carrying
    the new n_buckets, flip the pointer. Readers on the old version
    keep resolving the old layout; merges after the commit scope under
    the new one; vacuum reclaims the old layout's generations once its
    manifests age out. A crash before the pointer flip leaves only
    unreferenced orphans. Cost: one full-table rewrite — the floor for
    a hash-modulus change — committed atomically instead of in place.

    Returns {version, n_buckets_before, n_buckets_after,
    buckets_written}.
    """
    import json as _json

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = _json.load(f)
    key = meta["key"]
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        old_n = full["n_buckets"]
        if old_n == new_n_buckets:
            return {
                "version": cur, "n_buckets_before": old_n,
                "n_buckets_after": old_n, "buckets_written": 0,
            }
        if not full["buckets"]:
            # empty table (metadata-only init): the migration is a pure
            # manifest commit under the new layout — no Spark job
            gens, stats = {}, {}
        else:
            # the snapshot reads THROUGH deltas and DVs (the rewrite
            # folds both; the new manifest carries neither)
            snapshot = _read_snapshot_slice(
                spark, path, full, sorted(full["buckets"]), key
            )
            gens = _write_generations(
                snapshot, path, key, new_n_buckets,
                pmap=_phys_map(full.get("schema")),
                size=(full, sorted(full["buckets"]), None),
            )
            stats = {i: _harvest_stats(path, i, g) for i, g in gens.items()}
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, gens, new_n_buckets,
            # the snapshot frame is LOGICAL; keep the committed schema
            # (phys metadata included — the rewrite wrote physical
            # names) rather than deriving a mapping-less one from it
            full.get("schema") if full.get("schema") is not None
            else (_schema_of(snapshot) if full["buckets"] else None),
            stats,
            op="rebucket",
            dead_phys=full.get("dead_phys"),
        )
        # refresh the meta hint (readers/mergers resolve the layout
        # from the manifest; the meta records the key and the LATEST
        # layout) — preserving every OTHER recorded field: dropping
        # `constraints` here would silently disable table-level CHECK
        # enforcement for all later merges
        new_meta = dict(meta)
        new_meta["n_buckets"] = new_n_buckets
        with fsio.atomic_file(os.path.join(path, BUCKET_META)) as f:
            _json.dump(new_meta, f)
    return {
        "version": v, "n_buckets_before": old_n,
        "n_buckets_after": new_n_buckets,
        "buckets_written": len(gens),
    }


def _ledger_bounds(full: dict, column: str) -> tuple | None:
    """Global (lo, hi) of a numeric column across the manifest's stats
    ledger — pure manifest arithmetic. None when any bucket lacks
    usable numeric stats for it (the z-order quantizer then falls back
    to a one-job aggregate)."""
    lo = hi = None
    stats = full.get("stats") or {}
    column = _phys_map(full.get("schema")).get(column, column)
    for i in full["buckets"]:
        s = (stats.get(i) or {}).get("cols", {}).get(column)
        if s is None or s.get("t") not in ("num",):
            return None
        lo = s["lo"] if lo is None else min(lo, s["lo"])
        hi = s["hi"] if hi is None else max(hi, s["hi"])
    return None if lo is None else (lo, hi)


def _zorder_column(
    df: DataFrame, full: dict, cluster_by: list[str]
) -> F.Column:
    """Morton z-value over the cluster columns, quantized to 8 bits
    per dimension using ledger-global bounds (one manifest pass; an
    aggregate job only when the ledger lacks a column's bounds).
    Interleaving gives every dimension equal stats selectivity, so a
    box predicate on ANY subset of the columns prunes — lexicographic
    sort gives the first column everything and the rest nothing."""
    bits = 8
    qcols = []
    need_agg = [
        c for c in cluster_by if _ledger_bounds(full, c) is None
    ]
    agg_bounds = {}
    if need_agg:
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in need_agg],
            *[F.max(c).alias(f"hi_{c}") for c in need_agg],
        ).collect()[0]
        agg_bounds = {
            c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in need_agg
        }
    for c in cluster_by:
        lo, hi = agg_bounds.get(c) or _ledger_bounds(full, c)
        if lo is None or hi is None:
            # an entirely-null column (the agg fallback returns null
            # bounds): every row quantizes to 0 — the dimension simply
            # contributes no selectivity, content neutrality unharmed
            span = 0.0
        else:
            span = float(hi) - float(lo)
        if span <= 0:
            q = F.lit(0).cast("bigint")
        else:
            q = F.least(
                F.lit((1 << bits) - 1),
                F.greatest(
                    F.lit(0),
                    (
                        (F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span)
                        * F.lit(float((1 << bits) - 1))
                    ).cast("bigint"),
                ),
            )
        qcols.append(q)
    if len(qcols) == 1:
        return qcols[0]
    # bit-interleave the quantizers round-robin (Morton code; for 2
    # dims this is exactly layout.zorder_expr_spark's interleave,
    # expressed over Column quantizers instead of named columns).
    # NB: Column.__or__ is LOGICAL or — bit assembly must go through
    # bitwiseOR.
    parts = None
    d = len(qcols)
    for i in range(bits):
        for j, q in enumerate(qcols):
            p = F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * d + j
            )
            parts = p if parts is None else parts.bitwiseOR(p)
    return parts


def optimize_versioned(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    files_per_bucket: int = 8,
    buckets: list[int] | None = None,
    zorder: bool = False,
) -> dict:
    """OPTIMIZE ... ZORDER/CLUSTER BY economics for the versioned
    table: a content-neutral committed version whose generations are
    SORTED by `cluster_by` within each bucket and rolled into
    ~`files_per_bucket` files per bucket, so per-file footer min/max
    become selective for value-range predicates. The hash layout
    spreads every value range across all buckets (bucket-generation
    stats prune ~nothing for a value band — SCALE.md "hash layout
    honesty"); clustering restores skipping one level down: the file
    ledger ("fs" in the manifest stats) lets `prune_files` drop the
    files whose sorted range cannot overlap the predicate, reading
    ~1/files_per_bucket of each bucket for a narrow band.

    Same commit discipline as rebucket: read the snapshot, write new
    generations (immutable, content-addressed names), publish ONE
    manifest + pointer — readers on the old version are untouched, a
    crash leaves only unreferenced orphans, and the operation is
    content-neutral by law (tests/test_merge_versioned.py). Later
    merges rewrite touched buckets with ordinary single-file
    generations — their file pruning degrades to bucket-grain (absent
    ledger never skips), results stay exact, and a periodic
    re-optimize restores clustering: exactly Delta's OPTIMIZE cadence.

    `buckets` restricts the rewrite to a subset (incremental
    clustering: cost ∝ subset, untouched buckets carried by manifest
    reference) — the knob a 100 TB table uses to re-cluster only the
    buckets recent merges de-clustered. The row budget per file is the
    fattest target bucket's rows / files_per_bucket, from the stats
    ledger (one count job only when the ledger lacks row counts).
    Reference semantics to beat: the reference has no
    layout management at all (mongodb_handler.py relies on a BTree
    index); Delta OPTIMIZE is the real contract here.

    `zorder=True` (multi-column only) sorts by a Morton interleave of
    the cluster columns — quantized against ledger-global bounds, so
    usually zero extra jobs — instead of lexicographically: every
    dimension gets equal per-file stats selectivity, so a box
    predicate on ANY subset of the columns prunes, where the
    lexicographic sort gives the first column everything and later
    columns nothing (Delta's ZORDER BY vs a plain ORDER BY — the law
    test measures the difference directly).

    Returns {version, buckets_written, files_written, rows_per_file}.
    """
    import math

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    with fsio.locked(f"{path}/_MERGELOCK"):
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        manifest = dict(full["buckets"])
        target = (
            sorted(manifest) if buckets is None
            else [str(i) for i in buckets if str(i) in manifest]
        )
        if not target:
            return {
                "version": cur, "buckets_written": 0, "files_written": 0,
                "rows_per_file": None,
            }
        stats0 = full.get("stats") or {}
        known = [
            stats0[i]["rows"] for i in target
            if i in stats0 and "rows" in stats0[i]
        ]
        if known:
            per_bucket = max(known)  # size to the fattest bucket
        else:
            per_bucket = math.ceil(
                read_bucket_table_versioned(spark, path, cur).count()
                / max(len(manifest), 1)
            )
        rows_per_file = max(1, math.ceil(per_bucket / files_per_bucket))
        # the slice reads THROUGH deltas and DVs (the clustered rewrite
        # folds both — the commit clears their refs for these buckets)
        slice_df = _read_snapshot_slice(spark, path, full, target, key)
        if zorder and len(cluster_by) > 1:
            sort_key = [_zorder_column(slice_df, full, list(cluster_by))]
        else:
            sort_key = list(cluster_by)
        new_gens = _write_generations(
            slice_df, path, key, n_buckets,
            buckets=[int(i) for i in target],
            sort_by=sort_key,
            max_records_per_file=rows_per_file,
            pmap=_phys_map(full.get("schema")),
        )
        stats_all = dict(full.get("stats") or {})
        files = 0
        for i in target:
            g = new_gens.get(i)
            if g is None:  # a targeted bucket had rows; must reappear
                raise RuntimeError(
                    f"optimize dropped bucket {i} of {path}: "
                    "content-neutral rewrite produced no generation"
                )
            manifest[i] = g
            st = _harvest_stats(path, int(i), g)
            stats_all[i] = st
            files += st["files"]
        dv_all = {
            k2: list(v2)
            for k2, v2 in (full.get("dv") or {}).items()
            if k2 not in set(target)
        }
        deltas_all = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (full.get("deltas") or {}).items()
            if k2 not in set(target)
        }
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, manifest, n_buckets,
            full.get("schema") or _schema_of(slice_df), stats_all,
            op=(
                f"optimize-z:{','.join(cluster_by)}" if zorder
                and len(cluster_by) > 1
                else f"optimize:{','.join(cluster_by)}"
            ),
            dv=dv_all, deltas=deltas_all,
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(target),
        )
    return {
        "version": v,
        "buckets_written": len(target),
        "files_written": files,
        "rows_per_file": rows_per_file,
    }


def read_bucket_table_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the committed snapshot, or a pinned `version` (time
    travel). One manifest resolves to one consistent generation set —
    a concurrent merge's commit flips the whole table at once."""
    v = _resolve_version(path, version)
    full = _load_manifest_full(path, v)
    manifest = full["buckets"]
    if not manifest:
        raise FileNotFoundError(f"version {v} of {path} is empty")
    with open(os.path.join(path, BUCKET_META)) as f:
        key = json.load(f)["key"]
    return _read_snapshot_slice(spark, path, full, sorted(manifest), key)


def read_bucket_for_key_versioned(
    spark: SparkSession, path: str, value, version: int | None = None
) -> DataFrame | None:
    """Point lookup: prune to the ONE generation dir that can hold
    `value` under the pinned (or latest) version. This loads the root
    plus the single shard the bucket lives in — O(√width) bytes, the
    sharded-manifest design point.

    The slice plan runs on the driver: the bucket (`bucket_of_value`),
    the deletion-vector gate, and the footer-stats exclusion of each
    generation. When `_slice_gate("lookup")` admits
    the live generations, they are read on the driver with pyarrow,
    filtered on the key, and returned as a local relation: the caller's
    filter, select and collect then fold into a LocalTableScan and run
    no Spark job. The DV probe asks the gate for its DV files the same
    way. Anything the gate refuses keeps the Spark read (its reasons:
    `_slice_gate`). A merge-on-read slice tags each generation's rows
    with its ordinal either way and runs the same fold
    (`_fold_ordinals`/`_fold_rows`), which is a Spark aggregate, unless
    the local read found one live generation holding at most one row
    of the key: that row is its own fold, returned in the fold's
    column order with no job."""
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    v = _resolve_version(path, version)
    from .merge import bucket_of_value

    root = _load_root(path, v)
    bid = bucket_of_value(spark, value, root["n_buckets"])
    full = _slice_from_root(path, root, [bid])
    manifest = full["buckets"]
    g = manifest.get(str(bid))
    if g is None:
        return None

    def _key_stats_exclude(st: dict | None) -> bool:
        # a generation's key min/max proving the value absent means it
        # contributes NO row of this key — droppable from the lookup
        s = (st or {}).get("cols", {}).get(meta["key"])
        if s is None:
            return False
        if s["t"] == "null":
            return True
        cv = _coerce_bound(s["t"], value)
        if cv is None:
            return False
        slo, shi = s["lo"], s["hi"]
        if s["t"] == "dec":
            import decimal

            slo, shi = decimal.Decimal(slo), decimal.Decimal(shi)
        return cv < slo or cv > shi

    from pyspark.sql.types import StructType

    stored = full.get("schema")  # reuse the loaded manifest
    # DELETION VECTORS are ordinal-scoped: a hit at depth d proves the
    # key absent from every generation with ordinal <= d (for a table
    # without merge-on-read deltas that is the whole bucket — the old
    # definite-miss short circuit); generations ABOVE the deepest hit
    # may hold a legitimate re-insert and stay in the lookup
    dv_gate = -1  # ordinals <= dv_gate are dead for this key
    dv_refs = [
        _dv_ref(e) for e in (full.get("dv") or {}).get(str(bid), [])
    ]
    if dv_refs:
        probe = _slice_gate(
            "lookup", full=full, key=meta["key"], value=value,
            gens=[(f"{path}/{n}", d) for n, d in sorted(dv_refs)],
            columns=["__dv_bucket"],
        )
        hits = None if probe.read is None else [
            d for t, d in probe.read if int(bid) in t.column(0).to_pylist()
        ]
        if hits is None:
            probe = None
            for n, d in sorted(dv_refs):
                part = (
                    spark.read.parquet(f"{path}/{n}")
                    .filter(
                        (F.col(meta["key"]) == F.lit(value))
                        & (F.col("__dv_bucket") == F.lit(int(bid)))
                    )
                    .select(F.lit(d).alias("__d"))
                )
                probe = part if probe is None else probe.unionByName(part)
            hits = [r["__d"] for r in probe.collect()]
        if hits:
            dv_gate = max(hits)
    # every generation of the bucket — base + merge-on-read deltas —
    # is short-circuited INDEPENDENTLY: footer key bounds prove misses
    # outside [lo, hi] without opening a data page. A generation
    # proven key-free contributes nothing and drops from the read; all
    # generations proven key-free = a definite miss.
    gens = [(
        _gen_data_path(path, bid, g), 0,
        (full.get("stats") or {}).get(str(bid)),
    )]
    for j, d in enumerate((full.get("deltas") or {}).get(str(bid), [])):
        gens.append((f"{path}/bucket={bid}/{d['g']}", j + 1, d.get("stats")))
    live = []
    for gdir, ordn, st in gens:
        if ordn <= dv_gate:
            continue  # DV-deleted at this ordinal: dead for this key
        if _key_stats_exclude(st):
            continue
        live.append((gdir, ordn))
    if not live:
        return None
    mor = len(gens) > 1
    fold = full["mor_fold"] if "mor_fold" in full else meta.get("mor_fold")
    key = meta["key"]
    df = None
    own_fold = False
    local = _slice_gate(
        "lookup", full=full, key=key, value=value, gens=live, ords=mor
    ).read
    if local is not None:
        table, out = local
        # one live generation holding at most one row of the key is
        # its own fold: the merge-on-read lookup skips the aggregate
        own_fold = mor and len(live) == 1 and table.num_rows <= 1
        if own_fold:
            table, out = table.drop_columns("__ord"), StructType(out.fields[:-1])
        mor = mor and not own_fold
        df = spark.createDataFrame(table, out)
    else:
        schema = _struct_of(stored) if stored is not None else None
        for gdir, ordn in live:
            part = _read_dirs(spark, [gdir], schema, schema_json=stored).filter(
                F.col(key) == F.lit(value)
            )
            if mor:
                part = part.withColumn("__ord", F.lit(ordn))
            df = part if df is None else df.unionByName(part)
    if own_fold and not fold:
        # the ordinal fold's column order: the key first
        return df.select(key, *[c for c in df.columns if c != key])
    if not mor:
        return df
    if fold:
        return _fold_rows(df, fold)
    return _fold_ordinals(df, key)


def changed_buckets_between(
    path: str, since_version: int, to_version: int | None = None
) -> list[int]:
    """Bucket ids whose generation changed between two committed
    versions — pure manifest arithmetic, no scan, no clocks. The
    version number IS the consumer's watermark: unlike a timestamp
    watermark there is no precision or clock-skew surface at all
    (`version_at` maps a time to a version), and a layout change
    (rebucket) degrades safely to "everything changed".

    The diff runs at the ROOT first: a shard whose content-addressed
    file reference is identical in both versions is byte-identical, so
    only the differing shards load — the consumer's poll costs
    O(changed shards), not O(table width), exactly the sharded
    commit's economics applied to the read side. Same width means same
    shard size (_shard_size_for), so shard keys name the same bucket
    ranges on both sides; a root kept from an older explicit shard-size
    setting can make the diff load extra shards, never miss a change
    (an equal file reference holds equal bucket ids and entries)."""
    to_v = _resolve_version(path, to_version)
    r_from = _load_root(path, since_version)
    r_to = _load_root(path, to_v)
    if r_from["n_buckets"] != r_to["n_buckets"]:
        full_to = _slice_from_root(path, r_to, None)
        return sorted(int(i) for i in full_to["buckets"])  # re-hashed
    sh_from = r_from["shards"]
    sh_to = r_to["shards"]
    diff = {
        s for s in set(sh_from) | set(sh_to)
        if (sh_from.get(s) or {}).get("f") != (sh_to.get(s) or {}).get("f")
    }
    m_from = _assemble_shards(path, r_from, diff)
    m_to = _assemble_shards(path, r_to, diff)
    return sorted(_changed_sig_buckets(m_from, m_to))


def _changed_sig_buckets(m_from: dict, m_to: dict) -> set[int]:
    """Bucket ids whose SIGNATURE — (generation dir, DV refs) — differs
    between two same-layout manifests. A bucket's identity is that
    pair: a DV-only commit changes content without moving the
    generation, and generation names are content-addressed uuids that
    are never reused, so signature equality == untouched. Symmetric
    difference over bucket ids: a bucket present only in the OLD
    manifest (every row deleted since) is still a change —
    read_changed_between has nothing to read for it (no current rows),
    but change_feed must see it to emit the deletes, and the OCC
    commit validation must count it as a conflict."""
    old, new = m_from["buckets"], m_to["buckets"]
    dv_old, dv_new = m_from.get("dv") or {}, m_to.get("dv") or {}
    dl_old, dl_new = m_from.get("deltas") or {}, m_to.get("deltas") or {}

    def sig(m_b, m_dv, m_dl, i):
        # (generation, DV refs, MOR delta gens): a delta-only commit
        # changes content without moving the base generation
        return (
            m_b.get(i),
            tuple(_dv_ref(e) for e in m_dv.get(i, [])),
            tuple(d["g"] for d in m_dl.get(i, [])),
        )

    return {
        int(i)
        for i in set(old) | set(new)
        if sig(old, dv_old, dl_old, i) != sig(new, dv_new, dl_new, i)
    }


def read_changed_between(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame | None:
    """Incremental downstream consumption off the COMMIT HISTORY: read
    only the generations that are new since the consumer's
    checkpointed version. Listing cost = |changed buckets|; an
    up-to-date consumer reads NOTHING (None). Returns the CURRENT rows
    of the changed buckets (bucket-granular superset of the changed
    keys — exact key-level CDC is merge.py::table_diff between
    `read_bucket_table_versioned` snapshots, which this prunes the
    input for)."""
    to_v = _resolve_version(path, to_version)
    changed = changed_buckets_between(path, since_version, to_v)
    if not changed:
        return None
    # slice load: only the shards the changed buckets live in
    full = _load_manifest_slice(path, to_v, changed)
    with open(os.path.join(path, BUCKET_META)) as f:
        key = json.load(f)["key"]
    return _read_snapshot_slice(spark, path, full, changed, key)


def _read_history_log(path: str) -> dict[int, dict]:
    """The commit log as {version -> summary line}. Malformed lines
    (a torn append from a crash mid-write) are skipped — their
    versions fall back to a manifest load."""
    p = os.path.join(path, HISTORY_LOG)
    out: dict[int, dict] = {}
    if not os.path.exists(p):
        return out
    with open(p) as f:
        for ln in f:
            ln = ln.strip()
            if not ln:
                continue
            try:
                d = json.loads(ln)
                out[int(d["v"])] = d
            except (ValueError, KeyError, TypeError):
                continue
    return out


def version_at(path: str, as_of: float | str) -> int:
    """Timestamp AS-OF resolution: the newest surviving version whose
    commit stamp is <= `as_of` (epoch seconds, or an ISO string read
    as UTC) — the Delta `TIMESTAMP AS OF` convenience on top of exact
    version pinning. Stamps come from the commit log (O(V) tiny lines
    — at 4096 buckets loading every stats-bearing manifest instead
    cost 11 s over 300 commits, MANIFESTBENCH_4096), falling back to
    a manifest load for versions the log misses (pre-log tables, a
    crash between pointer replace and log append). Raises if every
    surviving manifest is newer (the as-of point predates retained
    history — vacuum may have reclaimed it) or if manifests predate
    commit stamps."""
    import datetime

    if isinstance(as_of, str):
        dt = datetime.datetime.fromisoformat(as_of)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        as_of = dt.timestamp()
    committed = latest_version(path)
    log = _read_history_log(path)
    best = None
    for v in _list_versions(path):
        if v > committed:
            continue  # phantom manifest of a dead merger: not history
        entry = log.get(v)
        t = (
            entry.get("committed_at")
            if entry is not None
            else _load_manifest_full(path, v).get("committed_at")
        )
        if t is not None and t <= as_of:
            best = v
    if best is None:
        raise ValueError(
            f"no surviving version of {path} committed at or before "
            f"{as_of} (vacuumed, or written before commit stamps)"
        )
    return best


def history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per surviving committed version, from
    the commit log (one tiny JSONL line per commit — O(V x line)),
    falling back to a manifest load for versions the log misses
    (pre-log tables; a crash between the pointer replace and the log
    append). Per version: the commit operation (load/init/merge/
    rebucket/optimize), layout, bucket count, and the stats ledger's
    row/byte totals (None when a version predates stats). `current`
    marks the pointer; versions older than the vacuum horizon are
    absent — history is exactly what time travel can still serve."""
    committed = latest_version(path)
    log = _read_history_log(path)
    out = []
    for v in _list_versions(path):
        if v > committed:
            continue  # phantom manifest of a dead merger: not history
        entry = log.get(v)
        if entry is not None:
            out.append(
                {
                    "version": v,
                    "op": entry.get("op"),
                    "committed_at": entry.get("committed_at"),
                    "n_buckets": entry.get("n_buckets"),
                    "buckets": entry.get("buckets"),
                    "rows": entry.get("rows"),
                    "bytes": entry.get("bytes"),
                    "n_columns": entry.get("n_columns"),
                    "current": v == committed,
                }
            )
            continue
        m = _load_manifest_full(path, v)
        stats = m.get("stats")
        rows = bytes_ = None
        if stats is not None:
            rows = sum(s["rows"] for s in stats.values())
            bytes_ = sum(s["bytes"] for s in stats.values())
            # same accounting as the commit-log line: delta
            # generations count into the totals (upper bound until a
            # fold, like DV-deleted rows) — the log ≡ fallback law
            # must hold for MOR commits too
            for lst in (m.get("deltas") or {}).values():
                rows += sum(d["stats"]["rows"] for d in lst)
                bytes_ += sum(d["stats"]["bytes"] for d in lst)
        out.append(
            {
                "version": v,
                "op": m.get("op"),
                "committed_at": m.get("committed_at"),
                "n_buckets": m["n_buckets"],
                "buckets": len(m["buckets"]),
                "rows": rows,
                "bytes": bytes_,
                "n_columns": (
                    len(m["schema"]["fields"]) if "schema" in m else None
                ),
                "current": v == committed,
            }
        )
    return out


def apply_change_feed(
    replica: DataFrame | None, feed: DataFrame, key: str | list[str]
) -> DataFrame:
    """Apply a change feed to a downstream replica: delete the
    tombstoned rows, replace/insert everything else with the feed's
    (complete, surviving-side) payload. The generic inverse of
    `change_feed` — unlike merge_upsert_deletes it needs no `now` and
    works for composite keys, because feed rows carry whole rows, audit
    columns included: replica@v_old + feed(v_old, v_new) == snapshot
    @v_new EXACTLY under `change_feed`'s key contract (laws in
    tests/test_merge_versioned.py and tests/test_feed_local.py).
    Idempotent (re-applying the same feed is a no-op), which upgrades
    at-least-once feed delivery into exactly-once replica effects — the
    crash-between-apply-and-checkpoint case S19 exercises.

    A replica row is replaced by the feed rows with its key; a row
    with a NULL key part, by a feed row equal to it on every column
    the two share (map and collated columns, `_incomparable`, aside). A
    replica column whose physical name a feed column carries under
    another name (field metadata "phys", see `change_feed`) was renamed
    inside the span and takes the feed's name first.

    One anti join + one union: the feed side of the anti join is
    broadcast EXPLICITLY — a feed is batch-sized by contract (cost ∝
    change, never ∝ table), so the hint is always right and spares the
    replica side a shuffle even when stale size stats would have
    talked the planner out of it."""
    keys = [key] if isinstance(key, str) else list(key)
    live = feed.filter(F.col("change") != "delete").drop("change")
    if replica is None:
        return live
    to_feed = {(f.metadata or {}).get("phys", f.name): f.name for f in feed.schema}
    replica = replica.withColumnsRenamed({
        f.name: to_feed[p] for f in replica.schema
        for p in [(f.metadata or {}).get("phys", f.name)]
        if to_feed.get(p, f.name) != f.name and to_feed[p] not in replica.columns
    })
    cond = keyed = same = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"r.{k}").eqNullSafe(F.col(f"f.{k}"))
        keyed = keyed & F.col(f"f.{k}").isNotNull()
    for c in replica.columns:
        if c in feed.columns and c not in keys and not _incomparable(feed.schema[c].dataType):
            same = same & F.col(f"r.{c}").eqNullSafe(F.col(f"f.{c}"))
    # allowMissingColumns: a feed crossing a SCHEMA EVOLUTION boundary
    # carries columns the replica predates (and vice versa after a
    # replica-side evolution) — the union fills them with nulls, which
    # is exactly what the evolved snapshot holds for those rows
    return replica.alias("r").join(
        F.broadcast(feed.drop("change")).alias("f"),
        cond & (keyed | same), "left_anti",
    ).unionByName(live, allowMissingColumns=True)


_NO_EXACT = object()  # sentinel: no exact cross-rebucket plan exists


def _root_n_buckets(path: str, v: int) -> int:
    return _load_root_raw(path, v)["n_buckets"]


def _feed_across_rebucket(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    bucket_key: str,
    aligned_diff,
    metrics: dict | None = None,
    memo: dict | None = None,
):
    """EXACT O(change) change feed across a `rebucket_versioned`
    boundary (VERDICT r11 item 2). The old full-diff fallback made the
    one event an ops team will certainly run (re-bucketing a grown
    table) break every O(change) consumer. Exactness argument: a key
    that changed in [v_from, v_to] changed either BEFORE the layout
    flip (so it appears in the old-layout sub-feed) or AFTER it (the
    new-layout sub-feed) — the rebucket commit itself is content-
    neutral by law. The union of the two sub-feeds' key sets is
    therefore exactly the changed keys; the final diff reads only
    those keys' buckets under EACH side's own layout (a changed key's
    rows live in its old-layout bucket at v_from and its new-layout
    bucket at v_to), semi-joined to the key set so asymmetric slice
    coverage can never misclassify an unchanged neighbor as a delete.

    Returns a DataFrame, None (no changes), or _NO_EXACT when no
    sound plan exists — an intermediate version was vacuumed away, or
    the layout flip was a full RELOAD (op != "rebucket": not content-
    neutral, everything may have changed). Sub-feeds recurse through
    change_feed, so multiple rebuckets in one span compose."""
    vs = [v for v in _list_versions(path) if v_from <= v <= v_to]
    if not vs or vs[0] != v_from or vs[-1] != v_to:
        return _NO_EXACT
    boundary = None
    prev = vs[0]
    for v in vs[1:]:
        if _root_n_buckets(path, prev) != _root_n_buckets(path, v):
            boundary = (prev, v)
            break
        prev = v
    if boundary is None:
        return _NO_EXACT
    a, b = boundary
    if b != a + 1:
        # versions between the two layouts were vacuumed: their
        # content changes are unrecoverable at old-layout grain
        return _NO_EXACT
    if _load_root_raw(path, b).get("op") != "rebucket":
        return _NO_EXACT  # a reload also flips layout but changes data
    f1 = (
        change_feed(spark, path, v_from, a, key=keys, _memo=memo)
        if a > v_from else None
    )
    f2 = (
        change_feed(spark, path, b, v_to, key=keys, _memo=memo)
        if v_to > b else None
    )
    if f1 is None and f2 is None:
        return None  # the rebucket alone: content-neutral, empty feed
    from .merge import bucket_expr

    n_from = _root_n_buckets(path, v_from)
    n_to = _root_n_buckets(path, v_to)

    # the changed-key set is O(change) by construction — pin it
    # driver-side once instead of recomputing both sub-feed diffs for
    # every downstream use. ONE job per sub-feed: the distinct keys are
    # projected to BOTH layouts' bucket ids inside the same collect
    # (the bucket projections used to be two more 32-partition shuffle
    # jobs each over a stats-less local relation, guide §1.2/§2.4), and
    # the rows are memoized per (sub-span, layouts) so a containing
    # span (1→4) re-uses a sub-span's (3→4) collected diff instead of
    # recomputing its full-outer join — the driver-side analogue of a
    # ReusedExchange, scoped to one change_feed call tree.
    def _sub_keys(f, va, vb):
        mk = (
            "subfeed_keys", path, bucket_key, va, vb, n_from, n_to,
            tuple(keys),
        )
        if memo is not None and mk in memo:
            return memo[mk]
        rows = (
            f.select(*keys)
            .distinct()
            .select(
                *keys,
                bucket_expr(bucket_key, n_from).alias("__b_from"),
                bucket_expr(bucket_key, n_to).alias("__b_to"),
            )
            .collect()
        )
        if memo is not None:
            memo[mk] = rows
        return rows

    seen: dict[tuple, tuple] = {}
    key_schema = None
    for f, va, vb in ((f1, v_from, a), (f2, b, v_to)):
        if f is None:
            continue
        if key_schema is None:
            key_schema = f.select(*keys).schema
        for r in _sub_keys(f, va, vb):
            seen[tuple(r[k] for k in keys)] = (r["__b_from"], r["__b_to"])
    if not seen:
        return None
    # sorted only to make the local relation deterministic; NULL key
    # values sort first instead of raising on a None-vs-value compare
    kdf = spark.createDataFrame(
        sorted(seen, key=lambda t: tuple((x is not None, x) for x in t)),
        key_schema,
    )
    b_from = sorted({v[0] for v in seen.values()})
    b_to = sorted({v[1] for v in seen.values()})
    if metrics is not None:
        metrics.update({
            "mode": "rebucket-exact",
            "changed_keys": len(seen),
            "buckets_from": len(b_from),
            "buckets_to": len(b_to),
        })
    m_from = _slice_from_root(path, _load_root(path, v_from), b_from)
    m_to = _slice_from_root(path, _load_root(path, v_to), b_to)
    old_df = _read_snapshot_slice(spark, path, m_from, b_from, bucket_key)
    new_df = _read_snapshot_slice(spark, path, m_to, b_to, bucket_key)
    like = new_df if new_df is not None else old_df
    if like is None:
        # both endpoint slices empty: the changed keys were inserted
        # after v_from and deleted before v_to, and their buckets hold
        # no other rows at either endpoint — the net change over the
        # span is empty
        return None
    if old_df is None:
        old_df = spark.createDataFrame([], like.schema)
    if new_df is None:
        new_df = spark.createDataFrame([], like.schema)
    # the key set is O(change) and already driver-local: broadcast it.
    # Without the hint the local relation plans as a stats-less
    # ExistingRDD and each semi-join becomes a full shuffle +
    # sort-merge of the SLICE side (guide §3.1) — measured 4 extra
    # Exchanges + 4 SortMergeJoin legs in the executed plan. Null-safe
    # key equality: a changed row whose key holds a NULL is in the key
    # set too, and a plain equi-join would silently drop it.
    kb = F.broadcast(kdf)

    def _changed_rows(df: DataFrame) -> DataFrame:
        return df.join(kb, [df[k].eqNullSafe(kb[k]) for k in keys], "semi")

    return aligned_diff(_changed_rows(old_df), _changed_rows(new_df))


def change_feed(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
    key: str | list[str] | None = None,
    _metrics: dict | None = None,
    _memo: dict | None = None,
) -> DataFrame | None:
    """Key-level change feed between two committed versions — the
    Delta CHANGE DATA FEED shape (`table_changes`), computed from the
    commit history instead of logged at write time (the reference's
    consumers poll `get_last_update_time` and re-pull rows,
    mongodb_handler.py:261-289; this gives them exact row-level
    inserts/updates/deletes instead).

    Rows: (key, payload-from-the-surviving-side, change) with change
    in {insert, update, delete} — `merge.table_diff` semantics. A row
    whose key parts are all non-NULL is matched on its key; a row with
    a NULL key part is matched on its whole content, so it shows up
    only when it was inserted or deleted, never as an update. The
    apply law: `apply_change_feed` of the feed onto the old snapshot
    gives the new snapshot exactly when non-NULL keys are unique per
    version and no version holds two equal rows with a NULL key part
    (tests/test_feed_local.py, tests/test_merge_versioned.py). A column
    renamed inside the span is one column under its new name (its
    physical name ties the two versions' names), and feed columns whose
    name differs from their physical name carry it as field metadata
    ("phys"), which `apply_change_feed` uses to rename the replica's.

    Cost ∝ CHANGE, not table: a key's rows live only in its hash
    bucket and both manifests share one layout, so the full-outer diff
    join runs over the changed buckets' generations only — manifest
    arithmetic prunes everything else (an up-to-date consumer returns
    None without touching data). Across a `rebucket_versioned` layout
    change bucket identity is not comparable, so the feed falls back
    to a full-snapshot diff (which is empty for the rebucket itself —
    content-neutral by law).

    A same-layout span that `_slice_gate("feed")` admits (its reasons
    are listed there) diffs on the driver instead: pyarrow reads and
    `merge.table_diff_arrow`, returning a local relation with the Spark
    form's rows and schema, so its consumer's actions run no full-outer
    join and no shuffle. Any other span takes the Spark diff.

    `key` defaults to the table's bucket key. Tables maintained by a
    custom merger can hold SEVERAL rows per bucket key (the keep-latest
    table keys on (user_id, event_type) but buckets on user_id); pass
    the COMPOSITE key that uniquely identifies a row. The bucket key
    must be one of its columns — that is what makes the changed-bucket
    pruning exact (a row's bucket is a function of it, so no competing
    row lives outside the changed set) — enforced here."""
    with open(os.path.join(path, BUCKET_META)) as f:
        bucket_key = json.load(f)["key"]
    if key is None:
        key = bucket_key
    keys = [key] if isinstance(key, str) else list(key)
    if bucket_key not in keys:
        raise ValueError(
            f"change_feed key {keys} must include the bucket key "
            f"{bucket_key!r}: bucket pruning is only exact when the "
            "row's bucket is a function of the diff key"
        )
    to_v = _resolve_version(path, to_version)
    r_from = _load_root(path, since_version)
    r_to = _load_root(path, to_v)
    # column identity is the physical name: a column renamed inside the
    # span is diffed under its new name on both sides
    to_phys = _phys_map(r_to.get("schema"))
    by_phys = {p: l for l, p in _phys_map(r_from.get("schema")).items()}
    renamed = {by_phys.get(p, p): l for l, p in to_phys.items() if by_phys.get(p, p) != l}
    mapped = {l: {"phys": p} for l, p in to_phys.items()}

    def _tagged(feed: DataFrame) -> DataFrame:
        # the mapped columns' physical names, for `apply_change_feed`
        for c, md in mapped.items():
            if c in feed.columns:
                feed = feed.withMetadata(c, md)
        return feed

    def _root_empty(root: dict) -> bool:
        # emptiness is decidable from the ROOT alone (no shard loads):
        # a root with no shard entries references no buckets
        return not root["shards"]

    from .merge import table_diff

    def _aligned_diff(old_df: DataFrame, new_df: DataFrame) -> DataFrame:
        # schema evolution: align both sides to the UNION of their
        # columns (missing side -> typed nulls) so the feed carries
        # columns added between the versions — an old row gaining a
        # value classifies as update, and applying the feed to the old
        # snapshot reproduces the evolved new snapshot
        old_df = old_df.withColumnsRenamed(
            {o: n for o, n in renamed.items() if o in old_df.columns}
        )
        for col, typ in [
            (f.name, f.dataType)
            for f in new_df.schema.fields
            if f.name not in old_df.columns
        ]:
            old_df = old_df.withColumn(col, F.lit(None).cast(typ))
        for col, typ in [
            (f.name, f.dataType)
            for f in old_df.schema.fields
            if f.name not in new_df.columns
        ]:
            new_df = new_df.withColumn(col, F.lit(None).cast(typ))
        return _tagged(table_diff(old_df, new_df, key=key))

    if r_from["n_buckets"] != r_to["n_buckets"]:
        # layout changed between the versions. A consumer checkpointed
        # at the metadata-only EMPTY init catches up as a bootstrap
        # regardless of layout; otherwise try the EXACT O(change) plan
        # (pure rebucket boundary, intact span) before falling back to
        # the full-snapshot diff (reload boundary / vacuumed span).
        if not _root_empty(r_from):
            exact = _feed_across_rebucket(
                spark, path, since_version, to_v, keys, bucket_key,
                _aligned_diff, metrics=_metrics, memo=_memo,
            )
            if exact is not _NO_EXACT:
                return exact
        if _metrics is not None:
            _metrics.update({"mode": "full-diff"})

        def _snap(root: dict, v: int, like: DataFrame | None):
            if not _root_empty(root):
                return read_bucket_table_versioned(spark, path, v)
            if like is not None:
                return spark.createDataFrame([], like.schema)
            return None

        new_df = _snap(r_to, to_v, None)
        old_df = _snap(r_from, since_version, new_df)
        if old_df is None and new_df is None:
            return None
        if new_df is None:
            new_df = spark.createDataFrame([], old_df.schema)
        return _aligned_diff(old_df, new_df)

    changed = changed_buckets_between(path, since_version, to_v)
    if not changed:
        return None

    if _root_empty(r_from):
        # bootstrap consumer (checkpointed at the metadata-only empty
        # init): the old side is empty by construction, so the diff IS
        # the new side tagged insert — no outer join, one read. Same
        # rows the general path would produce (every key "payload from
        # the surviving side", change='insert').
        snap = read_bucket_table_versioned(spark, path, to_v)
        return _tagged(snap.withColumn("change", F.lit("insert")))

    # slice loads: only the shards the changed buckets live in — the
    # consumer's whole poll is O(changed), root to data pages
    m_from = _slice_from_root(path, r_from, changed)
    m_to = _slice_from_root(path, r_to, changed)
    if not any(
        str(i) in m["buckets"] for m in (m_from, m_to) for i in changed
    ):
        return None
    local = _slice_gate(
        "feed", path=path, old=m_from, full=m_to, buckets=changed, key=keys
    ).read
    if local is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        from .merge import table_diff_arrow

        old, new, fields = local
        typ = {f.name: f.dataType for f in fields}
        # the Spark form's columns are expressions: their only field
        # metadata is the physical names `_tagged` adds
        out = StructType(
            [
                StructField(c, typ[c], metadata=mapped.get(c))
                for c in keys + [f.name for f in fields if f.name not in keys]
            ]
            + [StructField("change", StringType(), False)]
        )
        return spark.createDataFrame(table_diff_arrow(old, new, keys), out)

    def _read(m: dict, like: DataFrame | None):
        # each side reads THROUGH its version's deltas and deletion
        # vectors (_read_snapshot_slice), so a DV-only or MOR-delta
        # commit shows up as exact row-level changes in the diff
        df = _read_snapshot_slice(spark, path, m, changed, bucket_key)
        if df is None and like is not None:
            return spark.createDataFrame([], like.schema)
        return df

    new_df = _read(m_to, None)
    old_df = _read(m_from, new_df)
    if old_df is None and new_df is None:
        return None
    if new_df is None:
        new_df = spark.createDataFrame([], old_df.schema)
    return _aligned_diff(old_df, new_df)


def vacuum_bucket_versions(
    path: str, keep: int = 2, grace_seconds: float = 0.0,
    pin: set[int] | None = None,
) -> dict:
    """Reclaim storage: drop manifests older than the newest `keep`
    (never the committed one, never a `pin`ned version — the hook
    external snapshot holders use: catalogs pass
    catalog_referenced_versions so joint time travel survives member
    vacuums — never inside their post-supersession grace window,
    merge.py::vacuum_versions' retention contract), then delete
    generation dirs no surviving manifest references and whose mtime
    is older than `grace_seconds` (covers orphans from crashed merges
    without racing one that just finished writing).

    Takes BOTH locks: _COMMITLOCK so no pointer advance interleaves,
    _MERGELOCK so no merger is mid-flight (its not-yet-referenced
    generations would otherwise look like orphans)."""
    import glob as _glob

    removed_versions: list[int] = []
    removed_gens: list[str] = []
    with fsio.locked(f"{path}/_MERGELOCK"), fsio.locked(
        f"{path}/_COMMITLOCK"
    ):
        committed = latest_version(path)
        versions = _list_versions(path)
        now = time.time()
        doomed: list[int] = []
        for v in versions[:-keep] if keep else versions:
            if v == committed or (pin and v in pin):
                continue
            marker = os.path.join(path, f"v-{v}.superseded")
            if not os.path.exists(marker):
                continue  # never displaced -> not provably dead
            if now - os.path.getmtime(marker) < grace_seconds:
                continue
            doomed.append(v)
        doomed_set = set(doomed)
        # MATERIALIZE-BEFORE-RECLAIM: a surviving delta root
        # whose chain base is about to vanish is rewritten as
        # a self-contained checkpoint FIRST (atomic replace,
        # same resolved content — readers mid-walk re-resolve
        # via _load_root's retry). Chains are contiguous
        # (root_base == v-1), so checking each survivor's
        # immediate base covers every doomed middle hop.
        for v in versions:
            if v in doomed_set:
                continue
            raw = _load_root_raw(path, v)
            if (
                "root_base" in raw
                and raw["root_base"] in doomed_set
            ):
                full_root = _load_root(path, v)
                with fsio.atomic_file(_manifest_path(path, v)) as f:
                    json.dump(full_root, f, indent=0, sort_keys=True)
        referenced = set()
        dv_referenced = set()
        shard_referenced = set()
        # every surviving manifest loads before anything is
        # removed, so a table vacuum cannot read (one holding a
        # removed layout's entries) is left as it was
        for v in versions:
            if v in doomed_set:
                continue
            root = _load_root(path, v)
            # shard files referenced by any surviving
            # root stay; the rest are displaced history or a
            # crashed commit's orphans (grace-aged below)
            for e in root["shards"].values():
                shard_referenced.add(e["f"])
            m_full = _slice_from_root(path, root, None)
            for i, g in m_full["buckets"].items():
                referenced.add(_gen_data_path(path, i, g))
            # merge-on-read delta generations are LIVE data —
            # reclaiming one would drop committed rows
            for i, lst in (m_full.get("deltas") or {}).items():
                for d in lst:
                    referenced.add(f"{path}/bucket={i}/{d['g']}")
            for names in (m_full.get("dv") or {}).values():
                for e in names:
                    dv_referenced.add(f"{path}/{_dv_ref(e)[0]}")
        for v in doomed:
            os.unlink(_manifest_path(path, v))
            os.unlink(os.path.join(path, f"v-{v}.superseded"))
            removed_versions.append(v)
        for gdir in _glob.glob(f"{path}/bucket=*/g-*"):
            if gdir in referenced:
                continue
            if now - os.path.getmtime(gdir) < grace_seconds:
                continue
            fsio.discard(gdir)
            removed_gens.append(gdir)
        for dvdir in _glob.glob(f"{path}/dv-*"):
            if dvdir in dv_referenced:
                continue
            if now - os.path.getmtime(dvdir) < grace_seconds:
                continue
            fsio.discard(dvdir)
            removed_gens.append(dvdir)
        # staging dirs and atomic-write temps a kill -9'd writer left
        # behind (its try/finally never ran); we hold both locks so no
        # writer is mid-stage
        for sdir in _glob.glob(f"{path}/.stage-g-*") + _glob.glob(
            f"{path}/.*.tmp-*"
        ):
            if now - os.path.getmtime(sdir) < grace_seconds:
                continue
            fsio.discard(sdir)
            removed_gens.append(sdir)
        mdir = os.path.join(path, MANIFEST_DIR)
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn in shard_referenced:
                    continue
                fp = os.path.join(mdir, fn)
                if now - os.path.getmtime(fp) < grace_seconds:
                    continue
                os.unlink(fp)
                removed_gens.append(fp)
        if removed_versions:
            # compact the commit log to surviving versions —
            # history == what time travel can still serve, and
            # the log must not grow past the vacuum horizon.
            # Atomic rewrite under both locks (no commit can
            # interleave an append)
            log = _read_history_log(path)
            survivors = set(_list_versions(path))
            with fsio.atomic_file(os.path.join(path, HISTORY_LOG)) as hf:
                for v in sorted(log):
                    if v in survivors:
                        hf.write(json.dumps(log[v], sort_keys=True) + "\n")
    return {
        "removed_versions": removed_versions,
        "removed_gens": removed_gens,
    }
