#!/usr/bin/env python3
"""Derive larger / skewed test datasets from the driver's sf0.1 tables.

Two products, both under .scratch/ at the repository root (gitignored — derived
data, regenerable):

  sf1    — 10x scale-up of sf0.1 (~6M lineitem rows): copy 0 is the
           original data verbatim; copies 1..9 shift every key family
           by a copy-sized offset so referential integrity holds
           (lineitem.l_orderkey still joins orders.o_orderkey, etc.).
           Text columns are per-copy alphabet-rotated so near-dup
           relations stay LINEAR in corpus size (replicating text
           verbatim would make every doc a 10-way duplicate and
           quadratically inflate dedup outputs — a data artifact, not
           a plan property). Embeddings get a per-copy deterministic
           sign-flip pattern for the same reason: cross-copy cosines
           decorrelate instead of being exact ties.
  skew0.1 — sf0.1 volumes, but orders.o_custkey and events.user_id
           remapped log-uniformly (each magnitude decade equally
           likely), the classic zipf-ish hot-key shape: a handful of
           customers/users carry a large share of rows. Dimension
           tables are copied verbatim so every registered query runs
           unchanged against the skewed directory.

Determinism: no RNG anywhere — offsets, rotations and the skew map
are pure functions of existing keys, so repeated runs are identical.

Usage: python3 tools/gen_sf.py [sf1|skew|all]  (default: all)
"""

from __future__ import annotations

import os
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from cvemate_spark.session import get_spark  # noqa: E402
from cvemate_spark.tables import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
COPIES = 10

# key-family offsets: one decade above the sf0.1 max, so shifted key
# ranges never collide and the copy index is readable off the key
OFF = {
    "orderkey": 1_000_000,
    "custkey": 100_000,
    "partkey": 100_000,
    "suppkey": 10_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    "doc_id": 10_000,
    "vec_id": 10_000,
}

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rot_alpha(i: int) -> tuple[str, str]:
    """Per-copy letter rotation (identity for copy 0)."""
    r = (i * 7) % 26
    src = ALPHA + ALPHA.upper()
    dst = ALPHA[r:] + ALPHA[:r] + (ALPHA[r:] + ALPHA[:r]).upper()
    return src, dst


def _copies(df, mapper):
    """Union of COPIES transformed copies (copy 0 untouched)."""
    return reduce(lambda a, b: a.unionByName(b), [mapper(df, i) for i in range(COPIES)])


def gen_sf1(spark) -> str:
    out = os.path.join(OUT_ROOT, "sf1")
    os.makedirs(out, exist_ok=True)

    def shift(col, fam, i):
        return (F.col(col) + F.lit(i * OFF[fam])).alias(col)

    def orders_copy(df, i):
        return df.select(
            shift("o_orderkey", "orderkey", i), shift("o_custkey", "custkey", i),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        )

    def lineitem_copy(df, i):
        return df.select(
            shift("l_orderkey", "orderkey", i), shift("l_partkey", "partkey", i),
            shift("l_suppkey", "suppkey", i), "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        )

    def customer_copy(df, i):
        return df.select(
            shift("c_custkey", "custkey", i),
            F.concat(F.col("c_name"), F.lit(f"#{i}")).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        )

    def supplier_copy(df, i):
        return df.select(
            shift("s_suppkey", "suppkey", i),
            F.concat(F.col("s_name"), F.lit(f"#{i}")).alias("s_name"),
            "s_nationkey", "s_acctbal",
        )

    def part_copy(df, i):
        return df.select(
            shift("p_partkey", "partkey", i),
            F.concat(F.col("p_name"), F.lit(f"#{i}")).alias("p_name"),
            "p_brand", "p_type", "p_size", "p_retailprice",
        )

    def events_copy(df, i):
        return df.select(
            shift("event_id", "event_id", i), "ts",
            shift("user_id", "user_id", i), "event_type", "value", "props",
        )

    def documents_copy(df, i):
        src_a, dst_a = _rot_alpha(i)
        return df.select(
            shift("doc_id", "doc_id", i),
            F.translate(F.col("text"), src_a, dst_a).alias("text"),
            "lang", "source", "n_chars",
        )

    def embeddings_copy(df, i):
        if i == 0:
            return df.select("vec_id", "embedding", "label")
        mult = (i % 7) + 1
        offs = (i * 13) % 5
        flip = F.expr(
            "transform(embedding, (x, p) -> "
            f"CASE WHEN (p * {mult} + {offs}) % 5 < 2 THEN -x ELSE x END)"
        ).alias("embedding")
        return df.select(shift("vec_id", "vec_id", i), flip, "label")

    plans = {
        "region": None, "nation": None,
        "customer": customer_copy, "supplier": supplier_copy,
        "part": part_copy, "orders": orders_copy, "lineitem": lineitem_copy,
        "events": events_copy, "documents": documents_copy,
        "embeddings": embeddings_copy,
    }
    for name, mapper in plans.items():
        dst = os.path.join(out, f"{name}.parquet")
        df = load_table(spark, SRC, name)
        big = df if mapper is None else _copies(df, mapper)
        big.write.mode("overwrite").parquet(dst)
        print(f"[sf1] {name}: {big.count()} rows")
    return out


def _log_uniform(key_col: str, n_keys: int):
    """Deterministic zipf-ish remap: hash the key to uniform [0,1),
    then k = floor(n^u) — each magnitude decade equally likely, so key
    0 alone carries ~1/log(n) of all rows (a true hot key)."""
    u = (F.abs(F.xxhash64(F.col(key_col))) % 1_000_000) / 1_000_000.0
    return F.floor(F.pow(F.lit(float(n_keys)), u)).cast("long") - 1


def gen_skew(spark) -> str:
    """Write TWO directories with IDENTICAL file layout: skew0.1 (hot
    keys) and ctrl0.1 (original keys). Comparing skew0.1 against the
    driver's single-file sf0.1 would confound skew with file-count
    scheduling overhead; the control isolates skew as the only
    variable."""
    out = os.path.join(OUT_ROOT, "skew0.1")
    ctrl = os.path.join(OUT_ROOT, "ctrl0.1")
    os.makedirs(out, exist_ok=True)
    os.makedirs(ctrl, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "documents", "embeddings"):
        for dst in (out, ctrl):
            load_table(spark, SRC, name).write.mode("overwrite").parquet(
                os.path.join(dst, f"{name}.parquet")
            )
    # fact tables are written as 32 files: a 100 TB fact table is
    # thousands of files/row-groups = thousands of shuffle mappers, and
    # AQE's skew split can only divide a reduce partition at MAPPER
    # granularity — a single-file local table has one mapper and is
    # therefore structurally unsplittable (verified: OptimizeSkewedJoin
    # logs "number of skewed partitions: left 0" regardless of
    # thresholds). Multi-file facts reproduce the cluster shape.
    orders = load_table(spark, SRC, "orders")
    lineitem = load_table(spark, SRC, "lineitem")
    events = load_table(spark, SRC, "events")
    facts = {
        "orders": (
            orders.withColumn("o_custkey", _log_uniform("o_orderkey", 15_000)),
            orders,
        ),
        "lineitem": (lineitem, lineitem),
        "events": (
            events.withColumn("user_id", _log_uniform("event_id", 1_500)),
            events,
        ),
    }
    for name, (skewed_df, ctrl_df) in facts.items():
        skewed_df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
        ctrl_df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(ctrl, f"{name}.parquet")
        )
    print(f"[skew] hot-key facts under {out}, layout-matched control under {ctrl}")
    return out


SF10_COPIES = 100
# affine-cipher alphabet: 12 multipliers coprime to 26; (i % 12, i % 26)
# is injective for i < lcm(12, 26) = 156, so all 100 copies get DISTINCT
# letter permutations — 26 plain rotations would repeat every 26 copies
# and manufacture cross-copy exact duplicates (a data artifact that
# would quadratically inflate every near-dup relation; see gen_sf1).
_COPRIME26 = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _affine_alpha(i: int) -> tuple[str, str]:
    """Per-copy affine letter permutation k -> (a*k + b) mod 26
    (identity for copy 0: a=1, b=0)."""
    a = _COPRIME26[i % 12]
    b = (i * 7) % 26
    src = ALPHA + ALPHA.upper()
    perm = "".join(ALPHA[(a * k + b) % 26] for k in range(26))
    return src, perm + perm.upper()


def gen_sf10docs(spark) -> str:
    """Second scale decade for the DATA-BOUND family only (VERDICT r3
    item 2): documents + embeddings at 100x sf0.1 (500 k docs / 200 k
    vectors) under .scratch/sf10. Same derivation laws as gen_sf1 —
    near-dup relations stay LINEAR in corpus size (distinct affine
    text permutations per copy; per-copy deterministic hash-driven
    sign-flip patterns decorrelate cross-copy cosines while leaving
    within-copy cosines untouched, flips being diagonal +-1 orthogonal
    transforms). No RNG: everything is a pure function of copy index
    and position. Only the two tables the dedup/ANN/text family reads
    are generated; relational queries keep sf1 as their stress decade.
    """
    out = os.path.join(OUT_ROOT, "sf10")
    os.makedirs(out, exist_ok=True)

    def shift(col, fam, i):
        return (F.col(col) + F.lit(i * OFF[fam])).alias(col)

    def documents_copy(df, i):
        src_a, dst_a = _affine_alpha(i)
        return df.select(
            shift("doc_id", "doc_id", i),
            F.translate(F.col("text"), src_a, dst_a).alias("text"),
            "lang", "source", "n_chars",
        )

    def embeddings_copy(df, i):
        if i == 0:
            return df.select("vec_id", "embedding", "label")
        # hash-based per-copy flip pattern: unique for every copy index
        # (the sf1 (mult, offs) lattice has period 35 — at 100 copies it
        # would repeat and create exact cross-copy duplicate vectors)
        flip = F.expr(
            "transform(embedding, (x, p) -> "
            f"CASE WHEN pmod(xxhash64(p, {i}), 5) < 2 THEN -x ELSE x END)"
        ).alias("embedding")
        return df.select(shift("vec_id", "vec_id", i), flip, "label")

    def events_copy(df, i):
        # round 8 (VERDICT r7 item 5): second decade for the
        # events-bound behavioral/sketch family. Same law as sf1 —
        # ts UNCHANGED (the day axis must not grow: cohort/transition
        # state is |days|-bounded by design and the decade contract
        # measures data volume, not calendar span), user/event keys
        # shifted per copy so user-keyed cardinalities scale 100x.
        return df.select(
            shift("event_id", "event_id", i), "ts",
            shift("user_id", "user_id", i), "event_type", "value", "props",
        )

    for name, mapper in (
        ("documents", documents_copy),
        ("embeddings", embeddings_copy),
        ("events", events_copy),
    ):
        dst = os.path.join(out, f"{name}.parquet")
        df = load_table(spark, SRC, name)
        big = reduce(
            lambda a, b: a.unionByName(b),
            [mapper(df, i) for i in range(SF10_COPIES)],
        )
        big.repartition(64).write.mode("overwrite").parquet(dst)
        print(f"[sf10] {name}: rows written")
    return out


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("gen_sf", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    if which in ("sf1", "all"):
        gen_sf1(spark)
    if which in ("skew", "all"):
        gen_skew(spark)
    if which in ("sf10", "all"):
        gen_sf10docs(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
