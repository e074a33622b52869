"""Property-based OP-MERGE tests (SURVEY §5.4).

Hypothesis drives randomized batch contents and orderings through the
merge fold and asserts convergence to a reference model — a driver-side
dict-of-dicts applying the reference's UpdateOne semantics
(handlers/mongodb_handler.py:154-175) batch by batch. Spark runs are
slow, so examples are few but each covers many keys/batches.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from cvemate_spark.operators.merge import merge_upsert

SOURCES = ["nvd", "epss", "kev"]
KEYS = [f"CVE-{i}" for i in range(6)]

# one batch: a source name plus {key: payload}
batch_st = st.tuples(
    st.sampled_from(SOURCES),
    st.dictionaries(
        st.sampled_from(KEYS), st.text("abc", min_size=1, max_size=3), min_size=1
    ),
)
batches_st = st.lists(batch_st, min_size=1, max_size=5)


def model_merge(batches: list[tuple[str, dict[str, str]]]) -> dict[str, dict]:
    """Reference model: the upsert loop the reference runs per document."""
    table: dict[str, dict] = {}
    for src, rows in batches:
        for key, payload in rows.items():
            doc = table.setdefault(key, {})
            doc[src] = payload  # $set on the source column only
    return table


def _assert_fold_matches_model(spark, batches):
    target = None
    for i, (src, rows) in enumerate(batches):
        df = spark.createDataFrame([Row(id=k, **{src: v}) for k, v in rows.items()])
        target = merge_upsert(target, df, now=f"2024-01-01 00:00:{i:02d}")
    got = {
        r["id"]: {s: r.asDict().get(s) for s in SOURCES if r.asDict().get(s)}
        for r in target.collect()
    }
    assert got == model_merge(batches)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=batches_st)
def test_merge_fold_matches_reference_model(spark, batches):
    _assert_fold_matches_model(spark, batches)


def test_merge_fold_matches_reference_model_fixed_batches(spark):
    """The default profile's member of this module: one fixed program
    covering a repeated key across sources, a same-source overwrite
    and a key seen by one source only."""
    _assert_fold_matches_model(spark, [
        ("nvd", {"CVE-0": "a", "CVE-1": "b"}),
        ("epss", {"CVE-1": "c", "CVE-2": "a"}),
        ("nvd", {"CVE-1": "cc", "CVE-3": "b"}),
    ])


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    batches=batches_st,
    seed=st.integers(0, 1000),
)
def test_disjoint_source_order_convergence(spark, batches, seed):
    """Batches of DIFFERENT sources commute (each owns its column);
    within one source the order stays fixed (last-writer-wins is order-
    sensitive, exactly like the reference)."""
    import random

    by_src: dict[str, list] = {}
    for src, rows in batches:
        by_src.setdefault(src, []).append(rows)

    def fold(src_order):
        target = None
        t = 0
        for src in src_order:
            for rows in by_src[src]:
                df = spark.createDataFrame(
                    [Row(id=k, **{src: v}) for k, v in rows.items()]
                )
                target = merge_upsert(target, df, now=f"2024-01-01 00:00:{t:02d}")
                t += 1
        return {
            r["id"]: tuple(r.asDict().get(s) for s in SOURCES)
            for r in target.collect()
        }

    order_a = sorted(by_src)
    order_b = list(by_src)
    random.Random(seed).shuffle(order_b)
    assert fold(order_a) == fold(order_b)


def test_mor_random_program_matches_python_model(spark, tmp_path):
    """Model-based soak (added after the round-closing battery, run
    standalone): random interleavings of MOR upserts, CoW upserts, DV
    deletes and compactions against a pure-Python reference model of
    upsert semantics (per column: a non-null batch value overwrites,
    null/absent keeps; DV delete kills the key; a later upsert of a
    deleted key is an INSERT — prior columns stay dead). Seeded RNG,
    four programs x eight ops."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from cvemate_spark.operators.merge import merge_upsert
    from cvemate_spark.operators.merge_versioned import (
        compact_versioned,
        init_bucket_table_versioned,
        merge_deletes_dv,
        merge_scoped_versioned,
        merge_scoped_versioned_mor,
        read_bucket_table_versioned,
    )

    T0 = "2024-01-01 00:00:00"
    KEYS = [f"k{i}" for i in range(8)]
    COLS = ["p", "q", "r"]

    def batch_df(rows):
        return spark.createDataFrame(
            [
                Row(id=k, **{c: vals.get(c) for c in COLS})
                for k, vals in rows.items()
            ],
            schema="id string, p double, q double, r double",
        )

    for seed in (7, 23, 51, 94):
        rng = random.Random(seed)
        path = str(tmp_path / f"soak{seed}")
        init_bucket_table_versioned(path, key="id", n_buckets=2)
        model: dict[str, dict] = {}
        for step in range(8):
            op = rng.choice(["mor", "mor", "cow", "dv", "compact"])
            if op == "compact":
                compact_versioned(spark, path)
            elif op == "dv":
                victims = rng.sample(KEYS, rng.randint(1, 3))
                live = [k for k in victims if k in model]
                merge_deletes_dv(
                    spark, path,
                    spark.createDataFrame([Row(id=k) for k in victims]),
                )
                for k in live:
                    model.pop(k, None)
            else:
                picked = rng.sample(KEYS, rng.randint(1, 4))
                rows = {
                    k: {
                        c: (
                            None if rng.random() < 0.3
                            else round(rng.uniform(0, 9), 1)
                        )
                        for c in rng.sample(COLS, rng.randint(1, 3))
                    }
                    for k in picked
                }
                fn = (
                    merge_scoped_versioned_mor if op == "mor"
                    else merge_scoped_versioned
                )
                fn(spark, path, batch_df(rows), now=T0)
                for k, vals in rows.items():
                    cur = model.setdefault(k, {c: None for c in COLS})
                    for c, v in vals.items():
                        if v is not None:
                            cur[c] = v
            try:
                got = {
                    r["id"]: {c: r[c] for c in COLS}
                    for r in read_bucket_table_versioned(spark, path)
                    .select("id", *COLS)
                    .collect()
                }
            except FileNotFoundError:
                got = {}  # empty manifest: every key deleted
            want = {
                k: {c: vals.get(c) for c in COLS}
                for k, vals in model.items()
            }
            assert got == want, (seed, step, op, got, want)


def test_sharded_occ_random_program_matches_python_model(spark, tmp_path):
    """Round-11 soak: the same random-program model with compaction
    and an OCC MOR merge whose pre-commit hook injects a CONCURRENT
    MOR batch into the same table (the ordinal-compose path: both
    batches must land, modelled in commit order — hook's batch first,
    then the composing writer's). Seeded RNG, three programs x nine
    ops, checked against the pure-Python upsert model after every
    step."""
    import random

    from pyspark.sql import Row

    from cvemate_spark.operators.merge_versioned import (
        compact_versioned,
        init_bucket_table_versioned,
        merge_deletes_dv,
        merge_scoped_versioned,
        merge_scoped_versioned_mor,
        read_bucket_table_versioned,
    )

    T0 = "2024-01-01 00:00:00"
    KEYS = [f"k{i}" for i in range(8)]
    COLS = ["p", "q", "r"]

    def batch_df(rows):
        return spark.createDataFrame(
            [
                Row(id=k, **{c: vals.get(c) for c in COLS})
                for k, vals in rows.items()
            ],
            schema="id string, p double, q double, r double",
        )

    def rand_rows(rng, n_hi=4):
        picked = rng.sample(KEYS, rng.randint(1, n_hi))
        return {
            k: {
                c: (
                    None if rng.random() < 0.3
                    else round(rng.uniform(0, 9), 1)
                )
                for c in rng.sample(COLS, rng.randint(1, 3))
            }
            for k in picked
        }

    def apply_model(model, rows):
        for k, vals in rows.items():
            cur = model.setdefault(k, {c: None for c in COLS})
            for c, v in vals.items():
                if v is not None:
                    cur[c] = v

    for seed in (11, 42, 77):
        rng = random.Random(seed)
        path = str(tmp_path / f"soak{seed}")
        init_bucket_table_versioned(path, key="id", n_buckets=4)
        model: dict[str, dict] = {}
        for step in range(9):
            op = rng.choice(["mor", "cow", "dv", "compact", "occ_compose"])
            if op == "compact":
                compact_versioned(spark, path)
            elif op == "dv":
                victims = rng.sample(KEYS, rng.randint(1, 3))
                merge_deletes_dv(
                    spark, path,
                    spark.createDataFrame([Row(id=k) for k in victims]),
                )
                for k in victims:
                    model.pop(k, None)
            elif op == "occ_compose":
                rows_winner = rand_rows(rng)
                rows_loser = rand_rows(rng)
                fired = []

                def winner_inside_window():
                    if not fired:
                        fired.append(1)
                        merge_scoped_versioned_mor(
                            spark, path, batch_df(rows_winner), now=T0,
                        )

                merge_scoped_versioned_mor(
                    spark, path, batch_df(rows_loser), now=T0,
                    occ=True, pre_commit_hook=winner_inside_window,
                )
                # commit order: winner (inside the window) then loser
                apply_model(model, rows_winner)
                apply_model(model, rows_loser)
            else:
                rows = rand_rows(rng)
                fn = (
                    merge_scoped_versioned_mor if op == "mor"
                    else merge_scoped_versioned
                )
                fn(spark, path, batch_df(rows), now=T0)
                apply_model(model, rows)
            try:
                got = {
                    r["id"]: {c: r[c] for c in COLS}
                    for r in read_bucket_table_versioned(spark, path)
                    .select("id", *COLS)
                    .collect()
                }
            except FileNotFoundError:
                got = {}
            want = {
                k: {c: vals.get(c) for c in COLS}
                for k, vals in model.items()
            }
            assert got == want, (seed, step, op, got, want)
