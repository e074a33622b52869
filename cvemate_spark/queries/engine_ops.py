"""Engine-surface operators beyond the reference (SURVEY §2 '(absent)' rows).

The reference has no as-of join, cube, approximate distinct, rank
family, or custom UDAF — SURVEY §2 declares them as engine surface the
Spark build exposes natively. Each gets a gated query here.

Scale notes per operator are inline; the common theme: every plan is a
single shuffle keyed on the natural partition key, with the as-of join
deliberately built as union+window (one shuffle on user_id) instead of
a range join (quadratic per key at 100 TB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..tables import load_table
from .base import Registry, TS_FMT_DUCK, TS_FMT_SPARK, scratch_dir

REG = Registry()

EPOCH = "1970-01-01 00:00:00"


# ------------------------------------------------------------ as-of join
@REG.add(
    "e_asof",
    f"""
    SELECT e.event_id, e.user_id, strftime(e.ts, '{TS_FMT_DUCK}') AS ts,
           coalesce(strftime(max(c.ts), '{TS_FMT_DUCK}'), '{EPOCH}') AS click_ts
    FROM events e LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id, e.ts
    ORDER BY e.event_id, e.user_id, ts, click_ts
    """,
    doc="As-of join: for each error event, the latest click at-or-before "
    "it, per user. Built as union + last(ignorenulls) window — ONE "
    "shuffle on user_id, linear per key; the naive range join (the "
    "oracle's formulation) is quadratic per key and only viable for "
    "DuckDB at sf0.01.",
)
def e_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # one scan for both union legs (optimization r13, guide §2.3): the
    # click/error sides differ only in projected literals, so a single
    # IN-filtered scan with conditional projections replaces the
    # two-scan union — same rows, one fewer parquet pass
    is_click = F.col("event_type") == "click"
    merged = ev.filter(F.col("event_type").isin("click", "error")).select(
        "user_id",
        "ts",
        F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("side"),
        F.when(~is_click, F.col("event_id")).alias("event_id"),
        F.when(is_click, F.col("ts")).alias("click_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        merged.withColumn("asof_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("ts"),
            F.coalesce(
                F.date_format("asof_ts", TS_FMT_SPARK), F.lit(EPOCH)
            ).alias("click_ts"),
        )
        .orderBy("event_id", "user_id", "ts", "click_ts")
    )


# ------------------------------------------------------------ cube
@REG.add(
    "e_cube",
    """
    SELECT CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS n_name,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY CUBE(n_name, o_orderpriority)
    ORDER BY n_name, o_orderpriority, cnt
    """,
    doc="CUBE over (nation, orderpriority) with GROUPING() disambiguation "
    "— Catalyst expands to grouping sets in one aggregate (partial+final); "
    "nation is a broadcast dim.",
)
def e_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).join(orders, orders["o_custkey"] == cust["c_custkey"])
    agg = j.cube("n_name", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.grouping("n_name").alias("g1"),
        F.grouping("o_orderpriority").alias("g2"),
    )
    return agg.select(
        F.when(F.col("g1") == 1, "ALL").otherwise(F.col("n_name")).alias("n_name"),
        F.when(F.col("g2") == 1, "ALL")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "cnt",
    ).orderBy("n_name", "o_orderpriority", "cnt")


# ------------------------------------------------------------ approx distinct
@REG.add(
    "e_hll",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_10pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type, exact_users, within_10pct
    """,
    doc="HyperLogLog approx_count_distinct(rsd=0.02) checked against the "
    "exact distinct: the gate asserts the sketch lands within 10%. At "
    "100 TB the sketch is the only viable distinct (fixed-size partials, "
    "no shuffle of the full key set).",
)
def e_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("apx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("apx") - F.col("exact_users"))
            <= 0.1 * F.col("exact_users")
        ).alias("within_10pct"),
    ).orderBy("event_type", "exact_users", "within_10pct")


# ------------------------------------------------------------ rank family
@REG.add(
    "e_ranks",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 4) AS prank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    ORDER BY o_orderkey, o_orderstatus, drank, quartile, prank
    """,
    doc="Rank family (dense_rank / ntile / percent_rank) over a total "
    "per-partition order — deterministic ntile because the ordering key "
    "is unique (price, key).",
)
def e_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("prank"),
    ).orderBy("o_orderkey", "o_orderstatus", "drank", "quartile", "prank")


# ------------------------------------------------------------ grouped-agg UDAF
@REG.add(
    "e_udaf_rms",
    """
    SELECT event_type, ROUND(sqrt(avg(value * value)), 4) AS rms_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type, rms_value
    """,
    doc="Custom UDAF surface (SURVEY §2.11): grouped-agg pandas_udf "
    "(Arrow-batched, partial per partition is NOT possible for a "
    "black-box UDAF, so groups shuffle whole — the documented trade vs "
    "built-in aggregates; oracle is the pure-SQL rewrite).",
)
def e_udaf_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def rms(v: pd.Series) -> float:
        a = v.to_numpy(dtype="float64")
        return float(np.sqrt(np.mean(a * a)))

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(rms(F.col("value")).alias("raw_rms"))
        .select("event_type", F.round("raw_rms", 4).alias("rms_value"))
        .orderBy("event_type", "rms_value")
    )


# ------------------------------------------------------------ quantiles
@REG.add(
    "e_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    ORDER BY event_type, p50, p95
    """,
    doc="Exact interpolated percentiles (engine surface; the reference "
    "has no quantiles). Spark's percentile() and DuckDB's quantile_cont "
    "share linear-interpolation semantics — verified bit-equal after "
    "ROUND(4). The 100 TB path swaps in approx_percentile (t-digest "
    "partials, no full sort) — the e_hll pattern gates its error.",
)
def e_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        )
        .orderBy("event_type", "p50", "p95")
    )


# ------------------------------------------------------------ salted agg
@REG.add(
    "e_salted",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY event_type, cnt
    """,
    doc="Skew mitigation surface: two-phase salted aggregation — phase 1 "
    "groups by (key, salt=event_id%16) so a hot key spreads over 16 "
    "reducers, phase 2 merges the partials. For algebraic aggs Spark's "
    "map-side combine makes this implicit; the explicit form is the "
    "pattern for high-cardinality-state aggs (collect_list/exact "
    "distinct) on skewed keys, alongside AQE's runtime skew-join split.",
)
def e_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type", (F.col("event_id") % 16).alias("salt")
    ).agg(F.count("*").alias("c"))
    return (
        partial.groupBy("event_type")
        .agg(F.sum("c").alias("cnt"))
        .orderBy("event_type", "cnt")
    )


# ------------------------------------------------------------ pivot
@REG.add(
    "e_pivot",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events
    GROUP BY user_id
    ORDER BY user_id, n_click, n_error, n_purchase, n_signup, n_view
    """,
    doc="Pivot: per-user event counts spread into one column per event "
    "type. The value list is DECLARED (pivot(col, values)) — without it "
    "Spark must run an extra distinct-collect job to discover the "
    "columns before planning, a hidden corpus scan at 100 TB. With the "
    "list supplied the whole pivot is one hash aggregation of "
    "conditional partials (exactly the oracle's SUM(CASE) form).",
)
def e_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    out = wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )
    return out.orderBy("user_id", *[f"n_{t}" for t in types])


# ------------------------------------------------------------ unpivot
@REG.add(
    "e_unpivot",
    """
    WITH wide AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(18, 2)) ELSE 0 END) AS click,
               sum(CASE WHEN event_type = 'view'
                        THEN CAST(value AS DECIMAL(18, 2)) ELSE 0 END) AS view
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, metric, CAST(v AS DOUBLE) AS amount
    FROM (
        SELECT user_id, 'click' AS metric, click AS v FROM wide
        UNION ALL
        SELECT user_id, 'view' AS metric, view AS v FROM wide
    )
    ORDER BY user_id, metric, amount
    """,
    doc="Unpivot (melt): a wide per-user metric table folded back to long "
    "(user_id, metric, amount) rows via the native unpivot operator "
    "(Spark's Expand node: each input row fans out row-locally, no "
    "shuffle and no UDF — the same physical shape as explode). Money "
    "sums ride as DECIMAL(18,2) for cross-engine exactness.",
)
def e_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "click",
                F.col("value").cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("click"),
        F.sum(
            F.when(
                F.col("event_type") == "view",
                F.col("value").cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("view"),
    )
    long = wide.unpivot("user_id", ["click", "view"], "metric", "amount")
    return long.select(
        "user_id", "metric", F.col("amount").cast("double").alias("amount")
    ).orderBy("user_id", "metric", "amount")


# ------------------------------------------- rolling interval window
@REG.add(
    "e_rolling",
    f"""
    SELECT event_id, user_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
           CAST(SUM(CAST(value AS DECIMAL(18, 2))) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS roll_sum,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS roll_cnt
    FROM events
    ORDER BY event_id, user_id, ts_s, roll_sum, roll_cnt
    """,
    doc="Rolling 1-hour per-user aggregate via a RANGE-BETWEEN-INTERVAL "
    "window frame — the time-based frame class (vs q16's ROWS frames): "
    "the frame edge is a timestamp offset, so peers enter/leave by "
    "event time, not row position. One shuffle on user_id, per-key "
    "linear sliding-frame evaluation; value sums ride as DECIMAL(18,2) "
    "for cross-engine exactness.",
)
def e_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    frame = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
            F.expr(
                f"CAST(SUM(CAST(value AS DECIMAL(18, 2))) {frame} AS DOUBLE)"
            ).alias("roll_sum"),
            F.expr(f"CAST(COUNT(*) {frame} AS BIGINT)").alias("roll_cnt"),
        )
        .orderBy("event_id", "user_id", "ts_s", "roll_sum", "roll_cnt")
    )


# -------------------------------------- incremental rollup maintenance
ROLLUP_CUTOFF = "2024-01-25 00:00:00"


@REG.add(
    "e_rollup_inc",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS sum_val
    FROM events
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type, cnt, sum_val
    """,
    doc="Incremental rollup maintenance (hypertable-style continuous "
    "aggregate): the STORED per-(hour, type) partials for history are "
    "additively merged with the partials of the new batch (ts >= "
    "cutoff) — count and DECIMAL sum are both associative state, so "
    "refresh cost is O(batch), never a re-scan of history. The oracle "
    "is the full recompute; equality IS the maintenance law (also "
    "pinned batch-vs-full in tests/test_retrieval.py).",
)
def e_rollup_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias(
                "win_start"
            ),
            "event_type",
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        )

    cutoff = F.lit(ROLLUP_CUTOFF).cast("timestamp")
    stored = partials(ev.filter(F.col("ts") < cutoff))  # the materialized state
    delta = partials(ev.filter(F.col("ts") >= cutoff))  # the new batch
    return (
        stored.unionByName(delta)
        .groupBy("win_start", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_dec").cast("double").alias("sum_val"),
        )
        .orderBy("win_start", "event_type", "cnt", "sum_val")
    )


# ------------------------------------------------------------ e_dq_audit
@REG.add(
    "e_dq_audit",
    """
    SELECT 'customer_null_name' AS check_name,
           CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS scanned
    FROM customer
    UNION ALL
    SELECT 'lineitem_orders_fk',
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50)
               AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_customer_fk',
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'orders_pk_unique',
           CAST(coalesce(sum(cnt - 1), 0) AS BIGINT),
           CAST(coalesce(sum(cnt), 0) AS BIGINT)
    FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
    ORDER BY check_name
    """,
    doc="Data-quality audit pass (dbt-test shape): referential integrity "
    "as LEFT-join null counts, primary-key uniqueness as excess-count "
    "sum, null-rate and range checks as conditional aggregates — one "
    "row per check with (violations, scanned). At 100 TB each FK check "
    "is an equi-join on the key (bloom/DPP eligible) and each scan "
    "check is a map-side conditional count; checks over the same table "
    "share its scan.",
)
def e_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def check(name: str, violations, scanned, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(name).alias("check_name"),
            violations.cast("long").alias("violations"),
            scanned.cast("long").alias("scanned"),
        )

    null_name = check(
        "customer_null_name",
        F.count(F.when(F.col("c_name").isNull(), 1)),
        F.count("*"),
        customer,
    )
    li_fk = check(
        "lineitem_orders_fk",
        F.count(F.when(F.col("o_orderkey").isNull(), 1)),
        F.count("*"),
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left",
        ),
    )
    qty_range = check(
        "lineitem_qty_range",
        F.count(F.when((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50), 1)),
        F.count("*"),
        lineitem,
    )
    o_fk = check(
        "orders_customer_fk",
        F.count(F.when(F.col("c_custkey").isNull(), 1)),
        F.count("*"),
        orders.join(
            customer.select("c_custkey"),
            orders.o_custkey == customer.c_custkey,
            "left",
        ),
    )
    pk = check(
        "orders_pk_unique",
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)),
        F.coalesce(F.sum("cnt"), F.lit(0)),
        orders.groupBy("o_orderkey").agg(F.count("*").alias("cnt")),
    )
    return (
        null_name.unionByName(li_fk)
        .unionByName(qty_range)
        .unionByName(o_fk)
        .unionByName(pk)
        .orderBy("check_name")
    )


# ------------------------------------------------------------ e_scd2
@REG.add(
    "e_scd2",
    f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{TS_FMT_DUCK}') AS valid_from,
           coalesce(strftime(lead(ts) OVER w, '{TS_FMT_DUCK}'),
                    '9999-12-31 00:00:00') AS valid_to,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_current
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ORDER BY user_id, event_type, valid_from, event_id
    """,
    doc="SCD type-2 history build: per-key validity intervals "
    "[ts, next_ts) via lead(), open interval sentinel + is_current "
    "flag — the snapshot-to-dimension-history op every warehouse "
    "pipeline runs. One shuffle on the dimension key; at 100 TB the "
    "window partitions by (user_id, event_type), never a global sort.",
)
def e_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, TS_FMT_SPARK), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    ).orderBy("user_id", "event_type", "valid_from", "event_id")


# ------------------------------------------------------ e_merge_delete
@REG.add(
    "e_merge_delete",
    """
    WITH target AS (
        SELECT o_orderkey AS id, o_orderstatus AS status,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    updates AS (
        SELECT o_orderkey AS id, o_orderstatus AS status,
               CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS price,
               (o_orderkey % 10 = 0) AS _deleted
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT coalesce(u.id, t.id) AS id,
               coalesce(u.status, t.status) AS status,
               coalesce(u.price, t.price) AS price
        FROM target t
        FULL OUTER JOIN (SELECT * FROM updates WHERE NOT _deleted) u
          ON t.id = u.id
    )
    SELECT id, status, CAST(price AS DOUBLE) AS price
    FROM merged
    WHERE id NOT IN (SELECT id FROM updates WHERE _deleted)
    ORDER BY id, status, price
    """,
    doc="OP-MERGE delete leg (MERGE INTO ... WHEN MATCHED THEN DELETE): "
    "keyed upsert where tombstone-flagged update rows remove their key "
    "— insert, update and delete in one pass, the full CDC-apply "
    "surface. One full-outer upsert join + one anti join against the "
    "tombstone key set (unhinted; tombstones are a day's retractions, "
    "so AQE broadcasts in practice). Deleting an absent key is a "
    "no-op: the operator is idempotent.",
)
def e_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_deletes

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice").cast("decimal(18,2)") + 1).alias("price"),
        (F.col("o_orderkey") % 10 == 0).alias("_deleted"),
    )
    merged = merge_upsert_deletes(target, updates, key="id")
    return (
        merged.select("id", "status", F.col("price").cast("double").alias("price"))
        .orderBy("id", "status", "price")
    )


# ------------------------------------------------------ e_table_diff
@REG.add(
    "e_table_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey AS id, o_orderstatus AS status,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    v2 AS (
        SELECT o_orderkey AS id, o_orderstatus AS status,
               CAST(o_totalprice AS DECIMAL(18,2))
                   + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS price
        FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT change, CAST(count(*) AS BIGINT) AS n,
           CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
    FROM (
        SELECT coalesce(v2.id, v1.id) AS id,
               CASE WHEN v1.id IS NULL THEN 'insert'
                    WHEN v2.id IS NULL THEN 'delete'
                    WHEN v1.status IS DISTINCT FROM v2.status
                         OR v1.price IS DISTINCT FROM v2.price THEN 'update'
                    ELSE 'nochange' END AS change
        FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id
    )
    WHERE change <> 'nochange'
    GROUP BY change
    ORDER BY change, n, min_id, max_id
    """,
    doc="Snapshot diff / change-data-feed derivation (the Delta CDF "
    "shape, computed rather than logged): full-outer join of two "
    "table versions on the key, per-row change class via null-safe "
    "comparison (IS DISTINCT FROM), summarized per class. This is "
    "the inverse of e_merge_delete — diff DERIVES the insert/update/"
    "delete batch that merge APPLIES, so diff(v1,v2) fed to "
    "merge_upsert_deletes(v1) reproduces v2. One key-partitioned "
    "shuffle join; at 100 TB both sides bucket on the key and the "
    "join is exchange-free (the bucketed-SMJ layout pinned in "
    "test_plans).",
)
def e_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.when(F.col("o_orderkey") % 7 == 0, 1).otherwise(0)
        ).alias("price"),
    )
    from ..operators.merge import table_diff

    return (
        table_diff(v1, v2, key="id")
        .groupBy("change")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .orderBy("change", "n", "min_id", "max_id")
    )


# ------------------------------------------------------ e_bloom_semi
@REG.add(
    "e_bloom_semi",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag, n_rows, total_qty
    """,
    doc="Explicit approximate-membership prefilter before the exact "
    "semi join: project the filtered dim keys to a bounded hash-mod "
    "bit relation (pmod(xxhash64(key), 65536) DISTINCT — a one-hash "
    "bloom filter as a relation, <= 64Ki rows no matter the dim "
    "size), broadcast it against the fact side, THEN run the exact "
    "semi join. No false negatives, and the exact join removes the "
    "false positives, so the result equals the plain semi join (the "
    "oracle). The MANUAL form of the optimizer-injected runtime "
    "bloom (pinned elsewhere) for when Catalyst cannot see the "
    "opportunity — prefilters shared across jobs, or cutting a fact "
    "shuffle one stage before the join; at 100 TB the prefilter "
    "drops the fact volume by the dim selectivity for a "
    "bounded-size broadcast.",
)
def e_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bits = urgent.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(65536)).alias("b")
    ).distinct()
    prefiltered = li.join(
        F.broadcast(bits),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(65536)) == F.col("b"),
        "left_semi",
    )
    exact = prefiltered.join(urgent, prefiltered["l_orderkey"] == urgent["o_orderkey"], "left_semi")
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag", "n_rows", "total_qty")
    )


# ------------------------------------------------------ e_funnel
@REG.add(
    "e_funnel",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT 'step1_click' AS step, CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL
    SELECT 'step2_view', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM s3
    ORDER BY step, users
    """,
    doc="Ordered-sequence funnel (click -> view -> purchase, each step "
    "strictly after the previous): per-user earliest qualifying "
    "timestamp per step, converted-user counts per step — the "
    "MATCH_RECOGNIZE-lite shape every behavioral pipeline runs. Each "
    "step is one user_id-keyed partial-agg'd shuffle joined back to "
    "the prior step's (user, ts) relation; the event scan is filter-"
    "pushed per step, and all comparisons are on raw timestamps — "
    "no window over the whole event stream, so step count, not "
    "stream size, bounds the plan depth.",
)
def e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        s1.agg(F.count("*").cast("long").alias("users")).select(
            F.lit("step1_click").alias("step"), "users"
        ),
        s2.agg(F.count("*").cast("long").alias("users")).select(
            F.lit("step2_view").alias("step"), "users"
        ),
        s3.agg(F.count("*").cast("long").alias("users")).select(
            F.lit("step3_purchase").alias("step"), "users"
        ),
    ]
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return out.orderBy("step", "users")


# ------------------------------------------------------ e_gapfill
@REG.add(
    "e_gapfill",
    """
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_raw
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, s.day, d.n_raw
        FROM types t CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(coalesce(n_raw, 0) AS BIGINT) AS n,
           CAST(coalesce(last_value(n_raw IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0) AS BIGINT) AS carry
    FROM grid
    ORDER BY event_type, day, n, carry
    """,
    doc="Time-series densification (gap fill + forward fill): generate "
    "the full date spine (sequence explode — a generator, not a "
    "scan), left-join the daily counts, fill absent days with 0 and "
    "carry the last observed count forward (last_value IGNORE NULLS "
    "over a day-ordered window). The reporting shape that makes "
    "downstream window math correct over sparse event streams. Spine "
    "size is days x types — bounded output regardless of stream "
    "volume; the only corpus-sized work is the one daily groupBy "
    "(map-side partial).",
)
def e_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_raw"))
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("n_raw"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.last("n_raw", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("carry"),
    ).orderBy("event_type", "day", "n", "carry")


# ------------------------------------------------------ e_ivm_join
@REG.add(
    "e_ivm_join",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus, n_rows, total_qty
    """,
    doc="Incremental view maintenance for a JOIN view (the delta rule "
    "dV = dA join B for insert-only dA): the maintained view is the "
    "stored V1 = A1 join B unioned with the delta join dA join B — "
    "NEVER a re-join of the full A. The oracle is the direct "
    "full-recompute join, so the hash match proves the IVM algebra "
    "end-to-end. At 100 TB this is the difference between joining a "
    "day's orders against lineitem and re-joining years of history "
    "every refresh; the delta join shuffles only dA (or broadcasts "
    "it), and the union is free (no shuffle). Aggregate maintenance "
    "over stored partials is the companion gate e_rollup_inc.",
)
def e_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a1 = orders.filter(F.col("o_orderkey") % 3 != 0)     # stored base
    da = orders.filter(F.col("o_orderkey") % 3 == 0)     # insert delta
    cols = ["o_orderstatus", "l_quantity"]
    v1 = a1.join(li, a1["o_orderkey"] == li["l_orderkey"]).select(*cols)
    dv = da.join(li, da["o_orderkey"] == li["l_orderkey"]).select(*cols)
    v2 = v1.unionByName(dv)  # maintained view: V1 u (dA join B)
    return (
        v2.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
        .orderBy("o_orderstatus", "n_rows", "total_qty")
    )


# ------------------------------------------------------ e_salted_join
SALT_N = 8


@REG.add(
    "e_salted_join",
    """
    WITH skewed AS (
        SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
                    ELSE l_orderkey END AS k,
               l_quantity
        FROM lineitem
    ),
    dim AS (
        SELECT DISTINCT CASE WHEN o_orderkey % 2 = 0 THEN 0
                             ELSE o_orderkey END AS k,
               CASE WHEN o_orderkey % 2 = 0 THEN 'hot' ELSE 'cold' END AS grp
        FROM orders
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM skewed JOIN dim USING (k)
    GROUP BY grp
    ORDER BY grp, n_rows, total_qty
    """,
    doc="Manual salted join for key skew: half the fact rows share one "
    "hot key (k=0), which would land an entire join partition on one "
    "task. The fact side carries a DETERMINISTIC salt "
    "(l_linenumber % 8); the dim side is replicated x8 with a "
    "matching salt column (sequence explode); the join key becomes "
    "(k, salt), spreading the hot key over 8 tasks. The oracle is "
    "the PLAIN unsalted join — the hash match proves salting is "
    "algebra-neutral. This is the manual fix for skew AQE cannot "
    "split (one key too hot for any partition-level rebalance, or "
    "engines/stacks without AQE skew-join); deterministic salts keep "
    "it replayable, random salts would break retry idempotence.",
)
def e_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hot_k = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    fact = li.select(
        hot_k.alias("k"),
        (F.col("l_linenumber") % SALT_N).alias("salt"),
        "l_quantity",
    )
    dim_k = F.when(F.col("o_orderkey") % 2 == 0, F.lit(0)).otherwise(
        F.col("o_orderkey")
    )
    dim = (
        orders.select(
            dim_k.alias("k"),
            F.when(F.col("o_orderkey") % 2 == 0, "hot")
            .otherwise("cold")
            .alias("grp"),
        )
        .distinct()
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1))))
    )
    return (
        fact.join(dim, ["k", "salt"])
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
        .orderBy("grp", "n_rows", "total_qty")
    )


# ------------------------------------------------------ e_interval_bin
@REG.add(
    "e_interval_bin",
    """
    WITH incidents AS (
        SELECT date_trunc('hour', ts) - INTERVAL 30 MINUTE AS t_start,
               date_trunc('hour', ts) + INTERVAL 90 MINUTE AS t_end
        FROM events WHERE event_type = 'error'
        GROUP BY date_trunc('hour', ts)
        HAVING count(*) >= 2
    )
    SELECT strftime(i.t_start, '%Y-%m-%d %H:%M:%S') AS t_start,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM incidents i
    JOIN events e
      ON e.event_type = 'purchase' AND e.ts >= i.t_start AND e.ts < i.t_end
    GROUP BY i.t_start
    ORDER BY t_start, n_purchases, n_users
    """,
    doc="Unkeyed interval join via time-bin equi rewrite: purchases "
    "inside 2-hour incident windows (error-dense hours, deliberately "
    "NOT hour-aligned). There is no shared key, so the naive plan is "
    "a nested-loop over points x intervals; the rewrite explodes "
    "each interval into its covered hour bins (sequence generator, "
    "<= 3 rows per interval), equi-joins points on their own hour "
    "bin, and applies the exact range residual after the match — a "
    "shuffle/broadcast HASH join, never a BNLJ (plan-pinned). Each "
    "point matches an interval through exactly one bin (its own), "
    "so no dedup is needed. The standard rewrite for interval joins "
    "at 100 TB (bin width tuned to median interval span); the "
    "oracle runs the plain theta join.",
)
def e_interval_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hours = F.date_trunc("hour", F.col("ts"))
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(hours.alias("h"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select(
            (F.col("h") - F.expr("INTERVAL 30 MINUTE")).alias("t_start"),
            (F.col("h") + F.expr("INTERVAL 90 MINUTE")).alias("t_end"),
        )
    )
    binned = incidents.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("t_start")),
                F.date_trunc("hour", F.col("t_end") - F.expr("INTERVAL 1 SECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.date_trunc("hour", F.col("ts")).alias("bin")
    )
    matched = purchases.join(binned, "bin").filter(
        (F.col("ts") >= F.col("t_start")) & (F.col("ts") < F.col("t_end"))
    )
    return (
        matched.groupBy("t_start")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.date_format("t_start", "yyyy-MM-dd HH:mm:ss").alias("t_start"),
            "n_purchases",
            "n_users",
        )
        .orderBy("t_start", "n_purchases", "n_users")
    )


# ------------------------------------------------------ e_fuzzy_match
@REG.add(
    "e_fuzzy_match",
    """
    WITH parts AS (
        SELECT p_partkey, p_name,
               string_split(p_name, ' ')[-1] AS block
        FROM part
    )
    SELECT a.block AS block,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS npairs
    FROM parts a JOIN parts b
      ON a.block = b.block AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    GROUP BY a.block, dist
    ORDER BY block, dist
    """,
    doc="Entity-resolution fuzzy match with blocking: candidate pairs "
    "come from an equi-join on a blocking key (the name's head noun) "
    "— never the all-pairs cross join, which is |parts|² at any "
    "scale — then exact integer levenshtein <= 3 verifies within "
    "the block. The blocking-then-verify shape is the string-level "
    "sibling of the LSH band-then-verify dedup family; blocking "
    "keys at 100 TB come from phonetic codes / sorted-token prefixes "
    "/ q-gram buckets, all the same plan. Levenshtein is JVM-side "
    "codegen and integer-valued, so the gate is exact. The gate "
    "aggregates the verified pairs to per-(block, dist) counts: on a "
    "low-entropy name corpus the TRUE match set is dense (the sf1 "
    "sweep measured ~11M pairs at sf0.1, ~110M at sf1 — quadratic "
    "in block density), so a pair-list output can never be collected "
    "or oracle-compared at scale, while the count aggregation rides "
    "the same verify join map-side-combined and stays "
    "|blocks| x 4 rows at any corpus size. Production consumers "
    "keep the pair RELATION distributed (feeding clustering, like "
    "dedup_components) — only the gate needs a bounded projection.",
)
def e_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    parts = part.select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    a, b = parts.alias("a"), parts.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 3)
        .groupBy(F.col("a.block").alias("block"), dist.cast("long").alias("dist"))
        .agg(F.count("*").cast("long").alias("npairs"))
        .orderBy("block", "dist")
    )


# ------------------------------------------------------ e_topn_group
@REG.add(
    "e_topn_group",
    """
    SELECT o_orderstatus, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_orderstatus, o_orderkey, price
    """,
    doc="Per-group top-N (top-3 orders by price per status): the "
    "rank-filter shape Spark compiles to WindowGroupLimit (plan-"
    "pinned) — each partition keeps a bounded heap per group during "
    "the window sort instead of ranking every row and filtering "
    "after, the difference between O(N) state and O(groups x N) "
    "work at 100 TB. Deterministic tie-break on the key; DOUBLE "
    "cast only at output.",
)
def e_topn_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        .orderBy("o_orderstatus", "o_orderkey", "price")
    )


# ------------------------------------------------- e_quantiles_approx
@REG.add(
    "e_quantiles_approx",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type, exact_p50, within_5pct
    """,
    doc="approx_percentile (t-digest-style bounded-memory partials) "
    "error-gated against the exact interpolated median, the e_hll "
    "pattern: Spark computes both and asserts the sketch lands "
    "within 5% of exact; the oracle emits the exact value with the "
    "assertion pre-passed, so a hash match proves the bound held. "
    "At 100 TB approx_percentile is the only viable form — "
    "fixed-size mergeable partials instead of a full sort per "
    "group (exact percentile() buffers every value).",
)
def e_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("apx"),
    )
    return agg.select(
        "event_type",
        "exact_p50",
        (
            F.abs(F.col("apx") - F.col("exact_p50"))
            <= 0.05 * F.abs(F.col("exact_p50"))
        ).alias("within_5pct"),
    ).orderBy("event_type", "exact_p50", "within_5pct")


# --------------------------------------------------- e_grouping_sets
@REG.add(
    "e_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, '-') AS status,
           coalesce(o_orderpriority, '-') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority, gid, n
    """,
    doc="Explicit GROUPING SETS with grouping_id: three aggregation "
    "grains in ONE pass (per status, per priority, grand total) via "
    "the Expand operator — one scan feeding all grains, the "
    "report-card shape. grouping_id disambiguates a NULL that came "
    "from the DATA from a NULL the rollup synthesized — the classic "
    "grouping-sets correctness trap; the gate exercises exactly that "
    "bit arithmetic cross-engine.",
)
def e_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("egs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '-') AS status,
               coalesce(o_orderpriority, '-') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n
        FROM egs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority, gid, n
        """
    )


# ------------------------------------------------------ e_try_arith
@REG.add(
    "e_try_arith",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_k,
           CAST(sum(CASE WHEN k IS NOT NULL AND k <> 50
                         THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                              // abs(k - 50)
                         ELSE 0 END) AS BIGINT) AS ratio_q
    FROM (
        SELECT event_type, value,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    )
    GROUP BY event_type
    ORDER BY event_type, n, bad_k, ratio_q
    """,
    doc="Error-safe arithmetic over dirty input (the try_* surface): "
    "TRY_CAST turns unparsable JSON fields into NULL instead of a "
    "job abort — at 100 TB one malformed record must never kill a "
    "pipeline — and the division guards its zero denominator "
    "explicitly. The divided quantity is micro-quantized to an "
    "integer FIRST, so the per-group sum of integer quotients is "
    "order-independent and the gate exact. All codegen; nulls "
    "counted as a data-quality signal rather than dropped silently.",
)
def e_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        "value",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)").alias("k"),
    )
    # numerator is non-negative (value >= 0); abs() keeps the
    # denominator positive too, so Spark's truncating `div` and
    # DuckDB's flooring `//` agree (they differ on negative quotients)
    ratio = F.when(
        F.col("k").isNotNull() & (F.col("k") != 50),
        F.expr(
            "CAST(floor(value * 1000000 + 0.5) AS BIGINT) div abs(k - 50)"
        ),
    ).otherwise(F.lit(0))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("bad_k"),
            F.sum(ratio).cast("long").alias("ratio_q"),
        )
        .orderBy("event_type", "n", "bad_k", "ratio_q")
    )


# ------------------------------------------------------ e_union_evolve
@REG.add(
    "e_union_evolve",
    """
    WITH old_batch AS (
        SELECT o_orderkey AS id, o_orderstatus AS status,
               NULL AS price
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_batch AS (
        SELECT o_orderkey AS id, NULL AS status,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (
        SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(status) AS BIGINT) AS with_status,
           CAST(count(price) AS BIGINT) AS with_price,
           CAST(sum(CAST(coalesce(price, 0) AS DECIMAL(18,2))) AS DOUBLE)
               AS price_sum
    FROM unioned
    ORDER BY n, with_status, with_price, price_sum
    """,
    doc="Schema-drift-tolerant union (unionByName with "
    "allowMissingColumns): batches written before and after a schema "
    "change union by NAME, absent columns null-filled — the "
    "ingestion-evolution surface that makes a feed's column addition "
    "a non-event instead of a pipeline break (the read-side "
    "mergeSchema counterpart is plan-pinned in test_plans). "
    "Position-based UNION would silently misalign columns; the gate "
    "counts per-column presence so a misalignment cannot hash-match.",
)
def e_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old_batch = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
    )
    new_batch = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    unioned = old_batch.unionByName(new_batch, allowMissingColumns=True)
    return unioned.agg(
        F.count("*").cast("long").alias("n"),
        F.count("status").cast("long").alias("with_status"),
        F.count("price").cast("long").alias("with_price"),
        F.sum(F.coalesce(F.col("price"), F.lit(0)).cast("decimal(18,2)"))
        .cast("double")
        .alias("price_sum"),
    ).orderBy("n", "with_status", "with_price", "price_sum")


# ------------------------------------------------------ e_variant
@REG.add(
    "e_variant",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(sum(CASE WHEN json_extract_string(props, '$.missing')
                          IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
    FROM events
    GROUP BY event_type
    ORDER BY event_type, n, k_sum, n_absent
    """,
    doc="Semi-structured VARIANT ingestion (Spark 4's open-ended JSON "
    "type): props parsed ONCE to VARIANT (binary-encoded, no schema "
    "declared up front), fields typed lazily at use with variant_get "
    "— absent paths are NULL, never errors. This is the "
    "schema-on-read path for feeds whose payload shape drifts (the "
    "reference's raw handler payloads); versus from_json it needs no "
    "up-front schema and keeps unprojected fields queryable. DuckDB's "
    "JSON type plays the oracle role with identical extract "
    "semantics; integer sums keep the gate exact.",
)
def e_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.expr("parse_json(props)").alias("pv"))
    return (
        v.select(
            "event_type",
            F.expr("variant_get(pv, '$.k', 'long')").alias("k"),
            F.expr("variant_get(pv, '$.missing', 'string')").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_absent"),
        )
        .orderBy("event_type", "n", "k_sum", "n_absent")
    )


# ------------------------------------------------------ e_share
@REG.add(
    "e_share",
    """
    WITH rev AS (
        SELECT o_orderstatus AS status,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_orderstatus
    )
    SELECT status, cents,
           CAST(cents * 10000 // sum(cents) OVER () AS BIGINT) AS share_bp
    FROM rev
    ORDER BY status, cents, share_bp
    """,
    doc="Percent-of-total (ratio_to_report): per-status revenue share "
    "in integer basis points — money scaled to exact BIGINT cents, "
    "the global total as an unbounded window sum over the tiny "
    "aggregated relation (never over the fact table), integer "
    "division so the gate is exact. The two-level shape (aggregate "
    "first, window over the group relation) is what keeps the "
    "over-() window from serializing the corpus through one task.",
)
def e_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cents_row = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    rev = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.sum(cents_row).cast("long").alias("cents")
    )
    with_total = rev.withColumn(
        "_total", F.sum("cents").over(W.partitionBy())
    )
    # integer div, not float /: double division of big longs can round
    # up across an integer boundary where floor would not
    return with_total.select(
        "status",
        "cents",
        F.expr("(cents * 10000L) div _total").cast("long").alias("share_bp"),
    ).orderBy("status", "cents", "share_bp")


# --------------------------------------------------- e_explode_outer
@REG.add(
    "e_explode_outer",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_match
    FROM documents
    ORDER BY doc_id, n_match
    """,
    doc="Null-preserving explode (explode_outer): documents with ZERO "
    "regex matches keep their row as a NULL instead of vanishing — "
    "the correctness nuance that silently loses records under plain "
    "explode (108/500 docs here have no match; an inner explode "
    "would drop them and the row count could never hash-match). The "
    "Spark side genuinely explodes and re-aggregates so the gate "
    "exercises the outer-generator path; the oracle counts matches "
    "directly.",
)
def e_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        F.explode_outer(F.expr("regexp_extract_all(text, 'the', 0)")).alias("m"),
    )
    return (
        exploded.groupBy("doc_id")
        .agg(F.count("m").cast("long").alias("n_match"))
        .orderBy("doc_id", "n_match")
    )


# --------------------------------------------------- e_collect_sorted
@REG.add(
    "e_collect_sorted",
    """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           md5(array_to_string(list_sort(list(o_orderkey)), ',')) AS keys_md5
    FROM (SELECT o_orderstatus, o_orderkey FROM orders
          WHERE o_orderkey % 50 = 0)
    GROUP BY o_orderstatus
    ORDER BY status, n, keys_md5
    """,
    doc="Deterministic collection aggregation: collect_list's order is "
    "partition-arrival order — nondeterministic under shuffle — so "
    "any downstream use must canonicalize; sort_array makes the "
    "collected keys reproducible and the md5 fingerprint hashable "
    "(raw collect_list could never oracle-match). The contract's "
    "no-arrays-in-output rule is honored by emitting the digest, "
    "not the list. Bounded collected size (keys are the filtered "
    "minority) — an unbounded per-group list is the OOM shape to "
    "avoid at 100 TB.",
)
def e_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_orderstatus").alias("status"), "o_orderkey"
    )
    sorted_keys = F.sort_array(F.collect_list("o_orderkey"))
    return (
        keys.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.md5(F.concat_ws(",", sorted_keys).cast("binary")).alias("keys_md5"),
        )
        .orderBy("status", "n", "keys_md5")
    )


# ------------------------------------------------------ e_hll_merge
@REG.add(
    "e_hll_merge",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_10pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type, exact_users, within_10pct
    """,
    doc="Mergeable distinct-count sketches (Datasketches HLL, Spark "
    "3.5+): per-(event_type, day) sketches built with hll_sketch_agg, "
    "UNIONED across days with hll_union_agg, estimated, and gated "
    "within 10% of the exact distinct. The step beyond e_hll's "
    "approx_count_distinct: the sketch is a persistable VALUE, so at "
    "100 TB the daily sketch table is computed once at ingest and any "
    "date-range distinct is a metadata-sized re-merge — raw data is "
    "never re-scanned, and shard/day/cluster rollups compose "
    "associatively (the same additive-state argument as e_rollup_inc, "
    "applied to a non-algebraic aggregate).",
)
def e_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("apx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("apx") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("within_10pct"),
        )
        .orderBy("event_type", "exact_users", "within_10pct")
    )


# ----------------------------------------------------- e_time_travel
@REG.add(
    "e_time_travel",
    """
    SELECT 1 AS version, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE event_id % 2 = 0
    GROUP BY event_type
    UNION ALL
    SELECT 2 AS version, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY version, event_type, cnt
    """,
    doc="Versioned-snapshot time travel through the driver gate: two "
    "commits to the manifest-pointer sink (operators/merge.py::"
    "write_versioned — immutable v-N dirs, atomic _LATEST replace), "
    "then BOTH versions read back via read_versioned(version=...), "
    "proving commit monotonicity and that an old snapshot stays "
    "byte-stable after later commits — the Delta/Iceberg time-travel "
    "contract at filesystem scale. Oracle recomputes each version's "
    "content from events (v1 = even event_ids, v2 = all). Scratch is "
    "keyed by the source file identity, so a testdata regen rebuilds "
    "instead of serving stale versions.",
)
def e_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.merge import read_versioned, write_versioned

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir(sf_dir, "events", "timetravel")

    counts = lambda df: df.groupBy("event_type").agg(  # noqa: E731
        F.count("*").cast("long").alias("cnt")
    )
    # Crash-safe cache gate: require BOTH committed version dirs, not
    # just _LATEST — a failure between the v1 and v2 commits would
    # otherwise leave _LATEST=1 and make every later run skip the
    # writes and fail on read_versioned(version=2). A partial scratch
    # dir is rebuilt from zero (version numbers must be exactly 1,2).
    have_both = os.path.isdir(os.path.join(path, "v-1")) and os.path.isdir(
        os.path.join(path, "v-2")
    )
    if not have_both:
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path)
        write_versioned(counts(ev.filter(F.col("event_id") % 2 == 0)), path)
        write_versioned(counts(ev), path)
    v1 = read_versioned(spark, path, version=1).withColumn(
        "version", F.lit(1).cast("int")
    )
    v2 = read_versioned(spark, path, version=2).withColumn(
        "version", F.lit(2).cast("int")
    )
    return (
        v1.unionByName(v2)
        .select("version", "event_type", "cnt")
        .orderBy("version", "event_type", "cnt")
    )


# ----------------------------------------------------- e_merge_scoped
T_MERGE = "2026-01-01 00:00:00"
MS_BUCKETS = 32
INS_OFFSET = 900_000_000  # synthetic insert keys, disjoint from orders


@REG.add(
    "e_merge_scoped",
    """
    WITH upd AS (
        SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + 900000000, 1.0, 'N'
        FROM orders WHERE o_orderkey % 997 = 0
    ),
    merged AS (
        SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
               COALESCE(u.o_totalprice, t.o_totalprice) AS price,
               COALESCE(u.o_orderstatus, t.o_orderstatus) AS status
        FROM orders t FULL OUTER JOIN upd u
          ON t.o_orderkey = u.o_orderkey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY status ORDER BY status
    """,
    doc="Bucket-scoped OP-MERGE (operators/merge_versioned.py::"
    "merge_scoped_versioned): the orders table is laid out as 32 "
    "hash(key) buckets, then a mixed update+insert batch (every 97th key "
    "repriced, every 997th key's synthetic twin inserted) is merged by "
    "writing new generations for ONLY the buckets the batch touches — "
    "the reference's point-update economics (mongodb_handler.py:141-195, "
    "each UpdateOne touches only matched documents) at file "
    "granularity, vs write_atomic's whole-table rewrite. The returned "
    "aggregate proves the merged CONTENT equals the plain full-outer "
    "merge the oracle computes; the scoping law (untouched buckets "
    "physically untouched, cost ∝ batch) is pinned in "
    "tests/test_merge_versioned.py and measured in MERGEBENCH.json. At "
    "100 TB this bounds nightly-merge writes by the batch footprint, "
    "not the corpus.",
)
def e_merge_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "mscope")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        # initial load through merge_upsert(None, ...) so every bucket
        # file carries the audit columns from day one — merged and
        # untouched buckets then share one schema
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        batch = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 997 == 0).select(
                    (F.col("o_orderkey") + INS_OFFSET).alias("o_orderkey"),
                    F.lit(1.0).alias("o_totalprice"),
                    F.lit("N").alias("o_orderstatus"),
                )
            )
        )
        stats = merge_scoped_versioned(spark, path, batch, now=T_MERGE)
        assert 0 < stats["buckets_touched"] <= MS_BUCKETS
        with open(done, "w") as f:
            f.write(str(stats))
    return (
        read_bucket_table_versioned(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("status")
    )


# ------------------------------------------- e_merge_scoped_versioned
@REG.add(
    "e_merge_scoped_versioned",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd_a AS (
        SELECT o_orderkey AS k, o_totalprice + 1.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + 900000000, 1.0, 'N'
        FROM orders WHERE o_orderkey % 997 = 0
    ),
    v2 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM base t FULL OUTER JOIN upd_a u ON t.k = u.k
    ),
    upd_b AS (
        SELECT o_orderkey AS k, o_totalprice + 2.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 499 <> 0
    ),
    v3 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM v2 t FULL OUTER JOIN upd_b u ON t.k = u.k
        WHERE COALESCE(u.k, t.k) NOT IN (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 499 = 0
        )
    ),
    hist AS (
        SELECT 1 AS version, status, price FROM base
        UNION ALL SELECT 2, status, price FROM v2
        UNION ALL SELECT 3, status, price FROM v3
    )
    SELECT version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY version, status ORDER BY version, status
    """,
    doc="Versioned bucket table (operators/merge_versioned.py): scoped "
    "merges with a cross-bucket ATOMIC commit + time travel — the "
    "composition of a bucket-scoped merge's batch-bounded write cost "
    "with write_versioned's manifest-pointer snapshot protocol (VERDICT r8 "
    "item 2; the reference's point-update economics, "
    "mongodb_handler.py:141-195, under snapshot isolation). Three "
    "committed versions are built (initial orders load; an "
    "update+insert merge; an update+DELETE merge through the tombstone "
    "leg), then ALL THREE are read back via time travel and "
    "aggregated with a version column — so the oracle hash proves both "
    "the merged content of each commit and that superseded versions "
    "replay exactly. Data files are immutable per-bucket generation "
    "dirs; only touched buckets gain generations (untouched buckets "
    "carried by manifest reference, zero bytes copied), so at 100 TB "
    "a nightly batch commits in batch-sized writes plus one atomic "
    "pointer replace. Laws (crash-before-commit invisibility, "
    "concurrent-merger serialization, vacuum grace/reference safety) "
    "in tests/test_merge_versioned.py.",
)
def e_merge_scoped_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "msver")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        batch_a = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 997 == 0).select(
                    (F.col("o_orderkey") + INS_OFFSET).alias("o_orderkey"),
                    F.lit(1.0).alias("o_totalprice"),
                    F.lit("N").alias("o_orderstatus"),
                )
            )
        )
        s1 = merge_scoped_versioned(spark, path, batch_a, now=T_MERGE)
        batch_b = (
            orders.filter(
                (F.col("o_orderkey") % 89 == 0)
                & (F.col("o_orderkey") % 499 != 0)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
            .withColumn("_deleted", F.lit(False))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 499 == 0).select(
                    "o_orderkey",
                    F.lit(None).cast("double").alias("o_totalprice"),
                    F.lit(None).cast("string").alias("o_orderstatus"),
                    F.lit(True).alias("_deleted"),
                )
            )
        )
        s2 = merge_scoped_versioned(
            spark, path, batch_b, now=T_MERGE, deleted_col="_deleted"
        )
        assert (s1["version"], s2["version"]) == (2, 3)
        with open(done, "w") as f:
            f.write(f"{s1}\n{s2}\n")
    hist = None
    for v in (1, 2, 3):
        snap = read_bucket_table_versioned(spark, path, version=v).select(
            F.lit(v).alias("version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = snap if hist is None else hist.unionByName(snap)
    return (
        hist.groupBy("version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("version", "status")
    )


# ------------------------------------------------------- e_change_feed
@REG.add(
    "e_change_feed",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd_a AS (
        SELECT o_orderkey AS k, o_totalprice + 1.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + 900000000, 1.0, 'N'
        FROM orders WHERE o_orderkey % 997 = 0
    ),
    v2 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM base t FULL OUTER JOIN upd_a u ON t.k = u.k
    ),
    upd_b AS (
        SELECT o_orderkey AS k, o_totalprice + 2.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 499 <> 0
    ),
    v3 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM v2 t FULL OUTER JOIN upd_b u ON t.k = u.k
        WHERE COALESCE(u.k, t.k) NOT IN (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 499 = 0
        )
    ),
    d12 AS (
        SELECT CASE WHEN a.k IS NULL THEN 'insert'
                    WHEN b.k IS NULL THEN 'delete'
                    WHEN (a.price IS DISTINCT FROM b.price)
                      OR (a.status IS DISTINCT FROM b.status) THEN 'update'
                    ELSE 'nochange' END AS change,
               CASE WHEN b.k IS NULL THEN a.price ELSE b.price END AS price
        FROM base a FULL OUTER JOIN v2 b ON a.k = b.k
    ),
    d23 AS (
        SELECT CASE WHEN a.k IS NULL THEN 'insert'
                    WHEN b.k IS NULL THEN 'delete'
                    WHEN (a.price IS DISTINCT FROM b.price)
                      OR (a.status IS DISTINCT FROM b.status) THEN 'update'
                    ELSE 'nochange' END AS change,
               CASE WHEN b.k IS NULL THEN a.price ELSE b.price END AS price
        FROM v2 a FULL OUTER JOIN v3 b ON a.k = b.k
    ),
    d13 AS (
        SELECT CASE WHEN a.k IS NULL THEN 'insert'
                    WHEN b.k IS NULL THEN 'delete'
                    WHEN (a.price IS DISTINCT FROM b.price)
                      OR (a.status IS DISTINCT FROM b.status) THEN 'update'
                    ELSE 'nochange' END AS change,
               CASE WHEN b.k IS NULL THEN a.price ELSE b.price END AS price
        FROM base a FULL OUTER JOIN v3 b ON a.k = b.k
    ),
    feed AS (
        SELECT '1-2' AS span, change, price FROM d12 WHERE change <> 'nochange'
        UNION ALL
        SELECT '2-4', change, price FROM d23 WHERE change <> 'nochange'
        UNION ALL
        SELECT '1-4', change, price FROM d13 WHERE change <> 'nochange'
    )
    SELECT span, change,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM feed GROUP BY span, change ORDER BY span, change
    """,
    doc="Key-level CHANGE DATA FEED off the versioned table's commit "
    "history (operators/merge_versioned.py::change_feed — the Delta "
    "`table_changes` shape, computed from manifests instead of logged "
    "at write time; the reference's consumers poll "
    "get_last_update_time and re-pull whole rows, "
    "mongodb_handler.py:261-289 — this hands them exact row-level "
    "inserts/updates/deletes instead). Three versions are committed "
    "(initial load / update+insert merge / update+DELETE merge), then "
    "the feeds for spans 1->2, 2->4 and 1->4 are aggregated by change "
    "type — so the oracle hash proves classification (insert vs "
    "update vs delete), surviving-side payloads (deletes carry the "
    "old row), and span composition over a non-adjacent version pair. "
    "ROUND 12: version 3 is a REBUCKET (layout doubled) committed "
    "between the two merges, so the 2->4 and 1->4 spans CROSS a "
    "layout boundary — served by the EXACT O(change) cross-rebucket "
    "plan (_feed_across_rebucket: sub-feed key-set union + both-"
    "layout bucket pruning), asserted in the builder via the feed "
    "metrics (mode=rebucket-exact, buckets ∝ changed keys on BOTH "
    "layouts) plus the rebucket-only span 2->3 returning None. "
    "Scale: manifest arithmetic prunes the diff join to the CHANGED "
    "buckets' generations only — feed cost ∝ change, not table; an "
    "up-to-date consumer returns None with zero data I/O (asserted in "
    "the builder). The apply law (old snapshot + feed == new "
    "snapshot through merge_upsert_deletes) is pinned in "
    "tests/test_merge_versioned.py.",
)
def e_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        change_feed,
        merge_scoped_versioned,
        rebucket_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "cdf")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        batch_a = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 997 == 0).select(
                    (F.col("o_orderkey") + INS_OFFSET).alias("o_orderkey"),
                    F.lit(1.0).alias("o_totalprice"),
                    F.lit("N").alias("o_orderstatus"),
                )
            )
        )
        s1 = merge_scoped_versioned(spark, path, batch_a, now=T_MERGE)
        # v3: the ONLINE LAYOUT MIGRATION inside the feed span — the
        # event that used to degrade every crossing consumer to a
        # full-snapshot diff
        rb = rebucket_versioned(spark, path, MS_BUCKETS * 2)
        assert rb["version"] == 3
        batch_b = (
            orders.filter(
                (F.col("o_orderkey") % 89 == 0)
                & (F.col("o_orderkey") % 499 != 0)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
            .withColumn("_deleted", F.lit(False))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 499 == 0).select(
                    "o_orderkey",
                    F.lit(None).cast("double").alias("o_totalprice"),
                    F.lit(None).cast("string").alias("o_orderstatus"),
                    F.lit(True).alias("_deleted"),
                )
            )
        )
        s2 = merge_scoped_versioned(
            spark, path, batch_b, now=T_MERGE, deleted_col="_deleted"
        )
        assert (s1["version"], s2["version"]) == (2, 4)
        with open(done, "w") as f:
            f.write(f"{s1}\n{s2}\n")
    # the pruning contract: an up-to-date consumer touches no data,
    # and a rebucket-only span is recognized as content-neutral
    assert change_feed(spark, path, 4) is None
    assert change_feed(spark, path, 2, 3) is None
    out = None
    # one memo dict for all three spans: the 1->4 span re-uses the
    # 2->4 span's collected (3->4) sub-feed keys instead of
    # recomputing that full-outer diff (driver-side ReusedExchange,
    # scoped to this builder invocation — nothing persists across runs)
    memo: dict = {}
    for span, (a, b) in (("1-2", (1, 2)), ("2-4", (2, 4)), ("1-4", (1, 4))):
        metrics: dict = {}
        feed = change_feed(
            spark, path, a, b, _metrics=metrics, _memo=memo
        ).select(
            F.lit(span).alias("span"),
            "change",
            F.col("o_totalprice").alias("price"),
        )
        if b > 3 >= a:  # the span crosses the rebucket at v3
            # cost ∝ change, on BOTH layouts: the exact plan reads at
            # most one bucket per changed key per side, never O(width)
            assert metrics["mode"] == "rebucket-exact", (span, metrics)
            assert metrics["buckets_from"] <= metrics["changed_keys"]
            assert metrics["buckets_to"] <= metrics["changed_keys"]
        out = feed if out is None else out.unionByName(feed)
    return (
        out.groupBy("span", "change")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("span", "change")
    )


# ---------------------------------------------------- e_catalog_txn
@REG.add(
    "e_catalog_txn",
    """
    WITH v1 AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    v2 AS (
        SELECT k,
               CASE WHEN k % 97 = 0 THEN price + 1.0 ELSE price END AS price,
               CASE WHEN k % 97 = 0 THEN 'X' ELSE status END AS status
        FROM v1
    ),
    hist AS (
        SELECT 2 AS cat_version, status, price FROM v1
        UNION ALL SELECT 3, status, price FROM v2
    )
    SELECT cat_version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY cat_version, status ORDER BY cat_version, status
    """,
    doc="CROSS-TABLE transactional snapshots (operators/catalog.py): a "
    "catalog version pins every member table's version, so readers "
    "joining tables mid-update get a CONSISTENT pair — never table A "
    "post-batch with table B pre-batch. Per-table logs (the "
    "Delta/Iceberg shape) cannot give this; catalog-level commits "
    "(the Nessie shape) can — and the reference hits the same gap one "
    "layer down (per-collection bulk_writes leave cve updated while "
    "cve_kev lags, mongodb_handler.py). Orders is vertically split "
    "into a price table and a status table; ONE transaction updates "
    "BOTH for the %97 keys; the query JOINS the pair under catalog "
    "versions 2 and 3 (joint time travel) and the hash pins that each "
    "snapshot is internally consistent: in v3 every re-priced row is "
    "exactly a re-statused row — a half-applied transaction would put "
    "+1 prices under old statuses and break the (status, sum) "
    "distribution. Crash-mid-transaction invisibility, orphaned table "
    "versions staying unreferenced, and concurrent-transaction "
    "serialization are pinned in tests/test_catalog.py. At 100 TB the "
    "txn adds ONE catalog manifest write on top of the member tables' "
    "own batch-bounded commits; reads add one manifest resolution.",
)
def e_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.catalog import (
        catalog_init,
        catalog_read,
        catalog_txn,
    )
    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = scratch_dir(sf_dir, "orders", "cat")
    head, stat, cat = f"{root}/head", f"{root}/stat", f"{root}/cat"
    done = f"{root}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(root):
            shutil.rmtree(root)
        write_bucket_table_versioned(
            merge_upsert(
                None, orders.select("o_orderkey", "o_totalprice"),
                key="o_orderkey", now=T_MERGE,
            ),
            head, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        write_bucket_table_versioned(
            merge_upsert(
                None, orders.select("o_orderkey", "o_orderstatus"),
                key="o_orderkey", now=T_MERGE,
            ),
            stat, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        catalog_init(cat)
        members = {"head": head, "stat": stat}
        r1 = catalog_txn(spark, cat, members)  # register both: cat v2
        batch_h = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            )
        )
        batch_s = orders.filter(F.col("o_orderkey") % 97 == 0).select(
            "o_orderkey", F.lit("X").alias("o_orderstatus")
        )
        r2 = catalog_txn(  # ONE txn updates BOTH tables: cat v3
            spark, cat, members,
            actions={
                "head": lambda sk, p: merge_scoped_versioned(
                    sk, p, batch_h, now=T_MERGE
                ),
                "stat": lambda sk, p: merge_scoped_versioned(
                    sk, p, batch_s, now=T_MERGE
                ),
            },
        )
        assert (r1["catalog_version"], r2["catalog_version"]) == (2, 3)
        assert r2["tables"] == {"head": 2, "stat": 2}
        with open(done, "w") as f:
            f.write(f"{r1}\n{r2}\n")
    hist = None
    for v in (2, 3):
        h = catalog_read(spark, cat, "head", version=v)
        s = catalog_read(spark, cat, "stat", version=v)
        j = h.join(s, "o_orderkey").select(
            F.lit(v).alias("cat_version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = j if hist is None else hist.unionByName(j)
    return (
        hist.groupBy("cat_version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("cat_version", "status")
    )


# ----------------------------------------------------- e_catalog_feed
@REG.add(
    "e_catalog_feed",
    """
    WITH base AS (
        SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
    )
    SELECT tag, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM (
        SELECT 'catalog' AS tag, status, price FROM base
        UNION ALL
        SELECT 'replica' AS tag, status, price FROM base
    ) u
    GROUP BY tag, status ORDER BY tag, status
    """,
    doc="CATALOG-LEVEL change feed + jointly-atomic replication "
    "(operators/catalog.py::catalog_change_feed / replicate_catalog — "
    "VERDICT r9 item 3): per-table key-level feeds whose spans all "
    "derive from ONE pair of catalog manifests, consumed by a "
    "two-table replica that advances via a pointer publish — readers "
    "never see head at catalog v+1 with stat at v, and the applied "
    "version travels IN the pointer with the dirs it names. The "
    "builder drives the full hazard course: txn v3 re-prices/"
    "re-statuses the %97 keys (replica poll CRASHES after writing "
    "both new dirs, before the publish — the joint OLD pair keeps "
    "serving), restart converges; txn v4 REVERTS those keys to their "
    "original values (the catalog-level A-B-A) with another "
    "crash-then-restart poll. The query hash-proves the end state "
    "twice over: the 'replica' rows come from the replica pair, the "
    "'catalog' rows from catalog_read at latest, and the oracle "
    "computes both from the raw orders table — a replica that kept "
    "any stale intermediate (the A-B-A failure) or a mixed pair "
    "breaks the hash. Crash/joint-snapshot laws in "
    "tests/test_catalog.py. At 100 TB each poll reads changed "
    "buckets' generations only (feed cost ∝ commits since the "
    "applied version) and unchanged tables are carried by directory "
    "REFERENCE in the new pointer (zero bytes copied).",
)
def e_catalog_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.catalog import (
        catalog_init,
        catalog_read,
        catalog_txn,
        read_catalog_replica,
        replicate_catalog,
    )
    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = scratch_dir(sf_dir, "orders", "catfeed")
    head, stat, cat = f"{root}/head", f"{root}/stat", f"{root}/cat"
    rep = f"{root}/replica"
    done = f"{root}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(root):
            shutil.rmtree(root)
        write_bucket_table_versioned(
            merge_upsert(
                None, orders.select("o_orderkey", "o_totalprice"),
                key="o_orderkey", now=T_MERGE,
            ),
            head, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        write_bucket_table_versioned(
            merge_upsert(
                None, orders.select("o_orderkey", "o_orderstatus"),
                key="o_orderkey", now=T_MERGE,
            ),
            stat, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        catalog_init(cat)
        members = {"head": head, "stat": stat}
        catalog_txn(spark, cat, members)  # register both: cat v2
        r0 = replicate_catalog(spark, cat, rep)  # bootstrap at v2
        assert r0["advanced"] and r0["applied_version"] == 2

        hot = orders.filter(F.col("o_orderkey") % 97 == 0)
        batch_h = hot.select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        )
        batch_s = hot.select(
            "o_orderkey", F.lit("X").alias("o_orderstatus")
        )
        catalog_txn(  # cat v3: one txn moves BOTH tables
            spark, cat, members,
            actions={
                "head": lambda sk, p: merge_scoped_versioned(
                    sk, p, batch_h, now=T_MERGE
                ),
                "stat": lambda sk, p: merge_scoped_versioned(
                    sk, p, batch_s, now=T_MERGE
                ),
            },
        )
        # worst-point crash: both dirs written, pointer untouched —
        # the replica pair still serves the complete OLD snapshot
        rc = replicate_catalog(spark, cat, rep, crash_before_publish=True)
        assert not rc["advanced"]
        r3 = replicate_catalog(spark, cat, rep)
        assert r3["advanced"] and r3["applied_version"] == 3

        # cat v4: REVERT the %97 keys to their original values — the
        # catalog-level A-B-A (now=T_MERGE makes the reverted rows
        # byte-identical to v2's, so a stale-checkpoint consumer
        # would classify them nochange and keep v3's values forever)
        rev_h = hot.select("o_orderkey", "o_totalprice")
        rev_s = hot.select("o_orderkey", "o_orderstatus")
        catalog_txn(
            spark, cat, members,
            actions={
                "head": lambda sk, p: merge_scoped_versioned(
                    sk, p, rev_h, now=T_MERGE
                ),
                "stat": lambda sk, p: merge_scoped_versioned(
                    sk, p, rev_s, now=T_MERGE
                ),
            },
        )
        rc = replicate_catalog(spark, cat, rep, crash_before_publish=True)
        assert not rc["advanced"]
        r4 = replicate_catalog(spark, cat, rep)
        assert r4["advanced"] and r4["applied_version"] == 4
        with open(done, "w") as f:
            f.write(f"{r0}\n{r3}\n{r4}\n")
    rep_pair = read_catalog_replica(spark, rep, "head").join(
        read_catalog_replica(spark, rep, "stat"), "o_orderkey"
    )
    cat_pair = catalog_read(spark, cat, "head").join(
        catalog_read(spark, cat, "stat"), "o_orderkey"
    )
    rows = None
    for tag, pair in (("catalog", cat_pair), ("replica", rep_pair)):
        j = pair.select(
            F.lit(tag).alias("tag"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        rows = j if rows is None else rows.unionByName(j)
    return (
        rows.groupBy("tag", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("tag", "status")
    )


# ------------------------------------------------------ e_branch_wap
@REG.add(
    "e_branch_wap",
    """
    WITH v1 AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    v2 AS (
        SELECT k,
               CASE WHEN k % 59 = 0 THEN price + 2.0 ELSE price END AS price,
               CASE WHEN k % 59 = 0 THEN 'W' ELSE status END AS status
        FROM v1
    ),
    hist AS (
        SELECT 'pre' AS phase, status, price FROM v1
        UNION ALL SELECT 'post', status, price FROM v2
    )
    SELECT phase, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY phase, status ORDER BY phase, status
    """,
    doc="WRITE-AUDIT-PUBLISH branches + tags (operators/catalog.py "
    "branch block): a pipeline stages its batch on a named branch — a "
    "metadata-only fork, table versions pinned by reference, zero data "
    "copies — audits the staged snapshot, then PUBLISHES: one atomic "
    "main-pointer advance makes the whole batch visible jointly. The "
    "Iceberg-WAP/Nessie pattern; the reference has no staging layer at "
    "all (handlers bulk_write straight into the serving collections, "
    "mongodb_handler.py — a bad feed batch is live the instant it "
    "lands). Here the %59 re-price/re-status batch commits on branch "
    "'audit' while a tag pins the release snapshot; the builder's "
    "audit gate counts the staged delta on the BRANCH read before "
    "publishing. The query reads both phases through catalog "
    "manifests AFTER everything committed: the 'pre' phase (the "
    "tagged snapshot) hash-pins that staged versions never "
    "contaminated the pre-publish manifest — a leaked re-pin or a "
    "non-atomic publish would shift its (status, sum) distribution — "
    "and the 'post' phase pins the published linear successor. "
    "Isolation/rebase/conflict/vacuum laws: "
    "tests/test_catalog_branch.py. At 100 TB: fork and publish are "
    "manifest arithmetic + one pointer replace regardless of staged "
    "bytes; staging costs exactly the table-level commits main would "
    "have paid; an abandoned branch is an rmtree whose staged "
    "versions each member's own vacuum reclaims.",
)
def e_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.catalog import (
        branch_txn,
        catalog_branch,
        catalog_init,
        catalog_latest,
        catalog_read,
        catalog_tag,
        catalog_txn,
        publish_branch,
        read_branch,
    )
    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = scratch_dir(sf_dir, "orders", "wap")
    tab, cat = f"{root}/orders_t", f"{root}/cat"
    done = f"{root}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(root):
            shutil.rmtree(root)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            tab, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        catalog_init(cat)
        catalog_txn(spark, cat, {"orders_t": tab})  # register: cat v2
        catalog_tag(cat, "release-1")  # pin the pre-batch snapshot
        catalog_branch(cat, "audit")
        batch = orders.filter(F.col("o_orderkey") % 59 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(2.0)).alias("o_totalprice"),
            F.lit("W").alias("o_orderstatus"),
        )
        n_batch = batch.count()
        branch_txn(
            spark, cat, "audit",
            {"orders_t": lambda sk, p: merge_scoped_versioned(
                sk, p, batch, now=T_MERGE
            )},
        )
        # AUDIT on the branch read: every staged row landed, nothing
        # else moved — the gate a production WAP pipeline runs before
        # its publish (fail -> drop_branch, main never exposed)
        audited = read_branch(spark, cat, "audit", "orders_t")
        n_w = audited.filter(F.col("o_orderstatus") == "W").count()
        assert n_w == n_batch, (n_w, n_batch)
        assert audited.count() == orders.count()
        pub = publish_branch(spark, cat, "audit")
        assert pub["fast_forward"] is True
        assert catalog_latest(cat) == 3
        with open(done, "w") as f:
            f.write(f"{pub}\n")
    hist = None
    for phase, kw in (
        ("pre", {"tag": "release-1"}),  # the immutable release pin
        ("post", {}),  # main latest: the published linear successor
    ):
        r = catalog_read(spark, cat, "orders_t", **kw).select(
            F.lit(phase).alias("phase"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = r if hist is None else hist.unionByName(r)
    return (
        hist.groupBy("phase", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("phase", "status")
    )


# ------------------------------------------------- e_merge_constraint
@REG.add(
    "e_merge_constraint",
    """
    WITH v2 AS (
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price
        FROM orders
    )
    SELECT tag, val FROM (
        SELECT 'committed_version' AS tag, 2.0 AS val
        UNION ALL
        SELECT 'rejected_rows',
               CAST((SELECT count(*) FROM orders WHERE o_orderkey % 89 = 0)
                    AS DOUBLE)
        UNION ALL
        SELECT 'sum_price',
               (SELECT CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                FROM v2)
        UNION ALL
        SELECT 'table_rows',
               CAST((SELECT count(*) FROM orders) AS DOUBLE)
    ) ORDER BY tag
    """,
    doc="CHECK constraints on the versioned table "
    "(operators/merge_versioned.py::ConstraintViolation / "
    "_enforce_constraints — the Delta table-constraint shape): "
    "recorded at table creation, re-enforced on every merge's MERGED "
    "slice (table invariant, not a batch filter — a NULL update that "
    "coalesces to a valid existing value passes; SQL CHECK semantics, "
    "NULL passes) in one aggregate job over the touched slice, BEFORE "
    "a single byte lands. A violating batch is rejected ATOMICALLY: "
    "no generations, no manifest, no orphans — the query proves it by "
    "committing a good merge (version 2), then attempting a batch of "
    "negative prices on every run and hashing the violation count, "
    "the unchanged committed version, the unchanged row count, and "
    "the good merge's price sum. At 100 TB the check costs one "
    "agg over batch-sized data and buys the guarantee that no commit "
    "in the history ever violated the invariant — so consumers "
    "(change feeds, time travel, replicas) inherit it for free. Laws "
    "(atomic rejection, NULL-passes, per-call composition) in "
    "tests/test_merge_versioned.py.",
)
def e_merge_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        ConstraintViolation,
        latest_version,
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "chk")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
            constraints={"price_nonneg": "o_totalprice >= 0"},
        )
        batch_good = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        )
        s1 = merge_scoped_versioned(spark, path, batch_good, now=T_MERGE)
        assert s1["version"] == 2
        with open(done, "w") as f:
            f.write(f"{s1}\n")
    # the violating batch is attempted on EVERY run: rejection must be
    # atomic and repeatable (no generations, no commit, ever)
    batch_bad = orders.filter(F.col("o_orderkey") % 89 == 0).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        merge_scoped_versioned(spark, path, batch_bad, now=T_MERGE)
        raise AssertionError("violating batch was not rejected")
    except ConstraintViolation as e:
        rejected = e.violations["price_nonneg"]
    table = read_bucket_table_versioned(spark, path)
    rows = [
        ("committed_version", float(latest_version(path))),
        ("rejected_rows", float(rejected)),
        (
            "sum_price",
            float(
                table.agg(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                ).collect()[0][0]
            ),
        ),
        ("table_rows", float(table.count())),
    ]
    return spark.createDataFrame(rows, "tag string, val double").orderBy(
        "tag"
    )


# -------------------------------------------------- e_versioned_skip
@REG.add(
    "e_versioned_skip",
    """
    WITH mn AS (SELECT min(o_orderkey) AS mk FROM orders),
    cur AS (
        SELECT o_orderstatus AS status,
               CASE WHEN o_orderkey = (SELECT mk FROM mn)
                        THEN o_totalprice + 5.0
                    WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price,
               o_orderkey = (SELECT mk FROM mn) AS is_fresh
        FROM orders
    ),
    fresh AS (
        SELECT 'fresh_t2' AS tag, status, price FROM cur WHERE is_fresh
    ),
    band AS (
        SELECT 'price_band' AS tag, status, price FROM cur
        WHERE price BETWEEN 50000 AND 100000
    )
    SELECT tag, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM (SELECT * FROM fresh UNION ALL SELECT * FROM band) u
    GROUP BY tag, status ORDER BY tag, status
    """,
    doc="DATA SKIPPING on the versioned bucket table "
    "(operators/merge_versioned.py::scan_versioned / "
    "prune_generations): manifests carry per-generation column "
    "min/max/null-count harvested from parquet FOOTERS at commit time "
    "(metadata-only I/O, cost ∝ batch; untouched buckets carry their "
    "stats by reference) — the Delta/Iceberg skipping ledger. A range "
    "scan prunes generations whose bounds cannot overlap BEFORE any "
    "data page is opened, with the residual filter always applied so "
    "results are exact however little the stats prune. Two scans are "
    "aggregated: a FRESHNESS scan (updated_at >= the last merge's "
    "time — only the buckets that merge rewrote have young max-stats, "
    "so the builder asserts >0 generations skipped: the clock-based "
    "incremental-consumption path, no version checkpoint needed) and "
    "a price-band scan (hash layout spreads prices across every "
    "bucket, pruning ~nothing — included to hash-prove exactness "
    "under zero skipping). Point lookups use the same stats to prove "
    "definite misses without reading. Pruned ≡ unpruned laws in "
    "tests/test_merge_versioned.py.",
)
def e_versioned_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        prune_generations,
        scan_versioned,
        write_bucket_table_versioned,
    )

    t0, t1, t2 = (
        "2026-01-01 00:00:00", "2026-01-02 00:00:00", "2026-01-03 00:00:00"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "skip")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        # INT96 (Spark's default parquet timestamp encoding) carries no
        # footer min/max; write this table's commits as TIMESTAMP_MICROS
        # so the freshness column is skippable. Restored after.
        old_ts = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            write_bucket_table_versioned(
                merge_upsert(None, orders, key="o_orderkey", now=t0),
                path, key="o_orderkey", n_buckets=MS_BUCKETS,
            )
            batch_a = (
                orders.filter(F.col("o_orderkey") % 97 == 0)
                .withColumn(
                    "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
                )
            )
            s1 = merge_scoped_versioned(spark, path, batch_a, now=t1)
            # one-key batch: touches exactly one bucket at EVERY sf, so
            # the freshness scan provably skips generations
            min_key = orders.agg(F.min("o_orderkey")).collect()[0][0]
            batch_b = (
                orders.filter(F.col("o_orderkey") == min_key)
                .withColumn(
                    "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
                )
            )
            s2 = merge_scoped_versioned(spark, path, batch_b, now=t2)
            assert (s1["version"], s2["version"]) == (2, 3)
            assert s2["buckets_touched"] == 1
            with open(done, "w") as f:
                f.write(f"{s1}\n{s2}\n")
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old_ts)
    # the skipping contract: freshness prunes every untouched bucket
    plan = prune_generations(path, "updated_at", t2, None)
    assert len(plan["read"]) == 1 and len(plan["skipped"]) == MS_BUCKETS - 1
    fresh = scan_versioned(spark, path, "updated_at", t2, None).select(
        F.lit("fresh_t2").alias("tag"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    band = scan_versioned(
        spark, path, "o_totalprice", 50000.0, 100000.0
    ).select(
        F.lit("price_band").alias("tag"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    return (
        fresh.unionByName(band)
        .groupBy("tag", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("tag", "status")
    )


# ------------------------------------------- e_versioned_cluster_skip
@REG.add(
    "e_versioned_cluster_skip",
    """
    WITH cur AS (
        SELECT o_orderstatus AS status,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price
        FROM orders
    ),
    base AS (
        SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
    )
    SELECT tag, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM (
        SELECT 'band_latest' AS tag, status, price FROM cur
        WHERE price BETWEEN 50000 AND 60000
        UNION ALL
        SELECT 'band_v2' AS tag, status, price FROM base
        WHERE price BETWEEN 50000 AND 60000
    ) u
    GROUP BY tag, status ORDER BY tag, status
    """,
    doc="CLUSTERED data skipping (VERDICT r9 item 2 — the Delta "
    "OPTIMIZE ZORDER economics): merge_versioned.py::optimize_versioned "
    "commits a content-neutral version whose buckets are SORTED by the "
    "cluster column and rolled into ~8 files each, so per-file footer "
    "min/max become selective for VALUE predicates — the case the hash "
    "layout's bucket-generation stats cannot prune (every bucket spans "
    "the whole value range; SCALE.md 'hash layout honesty'). The "
    "manifest stats carry a per-file ledger ('fs'); prune_files plans "
    "at two grains (bucket, then file) from manifest arithmetic alone. "
    "Lifecycle under test: v1 load, v2 optimize (price-band scan at v2 "
    "must read <= 1/3 of the ledgered files — asserted), v3 merge "
    "(touched buckets degrade to single-file generations, absent "
    "ledger never skips, results stay exact), v4 INCREMENTAL "
    "re-optimize of only the de-clustered buckets (cost ∝ subset — "
    "the 100 TB re-cluster cadence) after which the latest-version "
    "band scan prunes again (asserted). Both scans hash-checked; "
    "content neutrality + degradation laws in "
    "tests/test_merge_versioned.py.",
)
def e_versioned_cluster_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        _load_manifest_full,
        latest_version,
        merge_scoped_versioned,
        optimize_versioned,
        prune_files,
        scan_versioned,
        write_bucket_table_versioned,
    )

    t0, t1 = "2026-01-01 00:00:00", "2026-01-02 00:00:00"
    lo, hi = 50000.0, 60000.0
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "clus")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        old_ts = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            write_bucket_table_versioned(
                merge_upsert(None, orders, key="o_orderkey", now=t0),
                path, key="o_orderkey", n_buckets=MS_BUCKETS,
            )
            opt = optimize_versioned(
                spark, path, cluster_by=["o_totalprice"],
                files_per_bucket=8,
            )
            assert opt["version"] == 2
            batch = orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
            )
            s3 = merge_scoped_versioned(spark, path, batch, now=t1)
            assert s3["version"] == 3
            # incremental re-cluster: ONLY the buckets the merge
            # de-clustered (their single-file generations lost the
            # file ledger) — cost ∝ subset, content-neutral
            m3 = _load_manifest_full(path, 3)
            degraded = [
                int(i) for i in m3["buckets"] if "fs" not in m3["stats"][i]
            ]
            assert degraded  # the %97 batch touched real buckets
            opt2 = optimize_versioned(
                spark, path, cluster_by=["o_totalprice"],
                files_per_bucket=8, buckets=degraded,
            )
            assert opt2["version"] == 4
            assert opt2["buckets_written"] == len(degraded)
            with open(done, "w") as f:
                f.write(f"{opt}\n{s3}\n{opt2}\n")
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old_ts)
    # the skipping contract, at BOTH versions: the fully-clustered v2
    # and the merge-then-incrementally-reoptimized latest each read
    # <= 1/3 of their ledgered files for the narrow band (manifest
    # arithmetic only — no data I/O in the plan)
    for ver in (2, latest_version(path)):
        plan = prune_files(path, [("o_totalprice", lo, hi)], version=ver)
        assert plan["files_total"] > 0 and not any(
            "fs" not in s
            for s in plan["manifest"]["stats"].values()
        )
        assert plan["files_read"] * 3 <= plan["files_total"], (
            ver, plan["files_read"], plan["files_total"]
        )
    band_latest = scan_versioned(spark, path, "o_totalprice", lo, hi).select(
        F.lit("band_latest").alias("tag"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    band_v2 = scan_versioned(
        spark, path, "o_totalprice", lo, hi, version=2
    ).select(
        F.lit("band_v2").alias("tag"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    return (
        band_latest.unionByName(band_v2)
        .groupBy("tag", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("tag", "status")
    )


# ------------------------------------------------ e_versioned_evolve
@REG.add(
    "e_versioned_evolve",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd_a AS (
        SELECT o_orderkey AS k, o_totalprice + 1.0 AS price,
               o_orderstatus AS status, o_orderpriority AS prio
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    v2 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status,
               u.prio AS prio
        FROM base t FULL OUTER JOIN upd_a u ON t.k = u.k
    ),
    upd_b AS (
        SELECT o_orderkey AS k, o_totalprice + 2.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 89 = 0
    ),
    v3 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status,
               t.prio AS prio
        FROM v2 t FULL OUTER JOIN upd_b u ON t.k = u.k
    ),
    hist AS (
        SELECT 1 AS version, status, price, CAST(NULL AS VARCHAR) AS prio
        FROM base
        UNION ALL SELECT 2, status, price, prio FROM v2
        UNION ALL SELECT 3, status, price, prio FROM v3
    )
    SELECT version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(count(prio) AS BIGINT) AS n_prio,
           min(prio) AS min_prio
    FROM hist GROUP BY version, status ORDER BY version, status
    """,
    doc="SCHEMA EVOLUTION on the versioned bucket table "
    "(operators/merge_versioned.py — manifests record the committed "
    "schema; readers resolve dirs under it): a merge whose batch "
    "carries a NEW column evolves the table in place — generations "
    "written before the column existed fill it with nulls at read "
    "(parquet reads by name; zero data rewritten, the Delta/Iceberg "
    "ADD COLUMN economics), time travel returns the AS-OF schema (v1 "
    "has no such column — asserted in the builder), and a later merge "
    "WITHOUT the column carries existing values through because the "
    "target slice is read under the committed schema, not inferred "
    "from whichever file Spark picks. The oracle aggregates all three "
    "versions with count/min over the added column, hash-proving "
    "exactly which rows gained values at each version and that the "
    "column-less v3 merge did not un-evolve v2's values. Laws "
    "(evolved point lookups on untouched buckets, feed across the "
    "evolution boundary, apply law) in tests/test_merge_versioned.py.",
)
def e_versioned_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        table_schema,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    path = scratch_dir(sf_dir, "orders", "evo")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(
                None, orders.drop("o_orderpriority"),
                key="o_orderkey", now=T_MERGE,
            ),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        batch_a = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .withColumnRenamed("o_orderpriority", "prio")  # the NEW column
        )
        s1 = merge_scoped_versioned(spark, path, batch_a, now=T_MERGE)
        batch_b = (
            orders.drop("o_orderpriority")
            .filter(F.col("o_orderkey") % 89 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
        )
        s2 = merge_scoped_versioned(spark, path, batch_b, now=T_MERGE)
        assert (s1["version"], s2["version"]) == (2, 3)
        with open(done, "w") as f:
            f.write(f"{s1}\n{s2}\n")
    # the evolution contract, asserted against the committed schemas
    assert "prio" not in table_schema(path, 1).fieldNames()
    assert "prio" in table_schema(path, 2).fieldNames()
    assert "prio" in table_schema(path, 3).fieldNames()
    hist = None
    for v in (1, 2, 3):
        snap = read_bucket_table_versioned(spark, path, version=v)
        prio = (
            F.col("prio") if "prio" in snap.columns
            else F.lit(None).cast("string")
        )
        snap = snap.select(
            F.lit(v).alias("version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
            prio.alias("prio"),
        )
        hist = snap if hist is None else hist.unionByName(snap)
    return (
        hist.groupBy("version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.count("prio").cast("long").alias("n_prio"),
            F.min("prio").alias("min_prio"),
        )
        .orderBy("version", "status")
    )


# ------------------------------------------------ e_rebucket_versioned
@REG.add(
    "e_rebucket_versioned",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd_a AS (
        SELECT o_orderkey AS k, o_totalprice + 1.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    v2 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM base t FULL OUTER JOIN upd_a u ON t.k = u.k
    ),
    upd_b AS (
        SELECT o_orderkey AS k, o_totalprice + 2.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 89 = 0
    ),
    v4 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM v2 t FULL OUTER JOIN upd_b u ON t.k = u.k
    ),
    hist AS (
        SELECT 1 AS version, status, price FROM base
        UNION ALL SELECT 2, status, price FROM v2
        UNION ALL SELECT 3, status, price FROM v2  -- rebucket: content-neutral
        UNION ALL SELECT 4, status, price FROM v4
    )
    SELECT version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY version, status ORDER BY version, status
    """,
    doc="Online re-bucketing of the versioned bucket table "
    "(operators/merge_versioned.py::rebucket_versioned): the layout "
    "migration the decade bench demands (MERGEBENCH_4096.json — "
    "n_buckets ∝ table size means a table that grew 10x wants 10x "
    "the buckets). Re-hashing 8 -> 32 buckets is ONE committed, "
    "content-neutral version: manifests carry their own n_buckets, so "
    "time travel across the layout change resolves each version under "
    "the layout it was written with, and merges after the commit "
    "scope under the new modulus. The query aggregates versions 1-4 "
    "(initial load / merge / REBUCKET / merge): the oracle pins v3's "
    "rows to EQUAL v2's, hash-proving the migration moved bytes but "
    "changed nothing — with zero downtime (readers resolve old or new "
    "pointer, never a mix; crash-before-commit leaves only "
    "unreferenced orphans). Laws in tests/test_merge_versioned.py.",
)
def e_rebucket_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        rebucket_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "rbk")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=8,
        )
        batch_a = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        )
        s1 = merge_scoped_versioned(spark, path, batch_a, now=T_MERGE)
        s2 = rebucket_versioned(spark, path, 32)
        batch_b = (
            orders.filter(F.col("o_orderkey") % 89 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
        )
        s3 = merge_scoped_versioned(spark, path, batch_b, now=T_MERGE)
        assert (s1["version"], s2["version"], s3["version"]) == (2, 3, 4)
        assert s3["n_buckets"] == 32  # post-migration merges: new layout
        with open(done, "w") as f:
            f.write(f"{s1}\n{s2}\n{s3}\n")
    hist = None
    for v in (1, 2, 3, 4):
        snap = read_bucket_table_versioned(spark, path, version=v).select(
            F.lit(v).alias("version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = snap if hist is None else hist.unionByName(snap)
    return (
        hist.groupBy("version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("version", "status")
    )


# ------------------------------------------------- e_merge_concurrent
@REG.add(
    "e_merge_concurrent",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd AS (
        SELECT o_orderkey AS k, o_totalprice + 5.0 AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 61 = 0
        UNION ALL
        SELECT o_orderkey + 900000000, 5.0, 'C'
        FROM orders WHERE o_orderkey % 751 = 0
    ),
    final AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM base t FULL OUTER JOIN upd u ON t.k = u.k
    ),
    hist AS (
        SELECT 1 AS version, status, price FROM base
        UNION ALL SELECT 3, status, price FROM final
    )
    SELECT version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY version, status ORDER BY version, status
    """,
    doc="Multi-writer OPTIMISTIC concurrency on the versioned table "
    "(operators/merge_versioned.py::merge_scoped_versioned_occ — the "
    "Delta/Iceberg commit protocol the serial merge lock can't "
    "give): two writers' merge WORK (target read, join, generation "
    "writes) runs with NO lock held and genuinely overlaps — a "
    "two-party barrier in the pre-commit seam proves both snapshotted "
    "the same base version before either committed — then commit "
    "validation serializes on manifest arithmetic only: the second "
    "committer sees the first's version, proves bucket-signature "
    "DISJOINTNESS, and REBASES (publishes its generations on the "
    "newest manifest, carrying the winner's buckets/stats/schema/DV "
    "refs by reference). The oracle hashes v1 and the post-race final "
    "snapshot: the race outcome must equal the sequential application "
    "of both batches regardless of commit order (the batches split "
    "one update set by bucket parity, so their union is "
    "order-independent — serializability, not just atomicity). "
    "Overlap/layout conflicts retry from the new snapshot and "
    "exhaustion raises with the table untouched "
    "(tests/test_merge_versioned.py::test_occ_*). At 100 TB this is "
    "what lets N nightly feeds overlap their cluster work instead of "
    "taking N x (read+join+write) serialized wall-clock.",
)
def e_merge_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import threading

    from ..operators.merge import bucket_expr, merge_upsert
    from ..operators.merge_versioned import (
        merge_scoped_versioned_occ,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "occver")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        upd = (
            orders.filter(F.col("o_orderkey") % 61 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(5.0))
            .unionByName(
                orders.filter(F.col("o_orderkey") % 751 == 0).select(
                    (F.col("o_orderkey") + INS_OFFSET).alias("o_orderkey"),
                    F.lit(5.0).alias("o_totalprice"),
                    F.lit("C").alias("o_orderstatus"),
                )
            )
        )
        # one update set split by bucket PARITY: the writers' touched
        # bucket sets are disjoint by construction, and their union is
        # commit-order independent — which is what makes the racy
        # final snapshot oracle-hashable
        par = F.pmod(bucket_expr("o_orderkey", MS_BUCKETS), F.lit(2))
        batches = {
            "A": upd.filter(par == 0),
            "B": upd.filter(par == 1),
        }
        assert all(b.limit(1).count() == 1 for b in batches.values())
        barrier = threading.Barrier(2, timeout=300)
        results, errs = {}, []

        def run(name):
            try:
                results[name] = merge_scoped_versioned_occ(
                    spark, path, batches[name], now=T_MERGE,
                    pre_commit_hook=barrier.wait,
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [
            threading.Thread(target=run, args=(n,)) for n in ("A", "B")
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        # both landed off the SAME snapshot: one plain commit, one
        # rebase — the protocol's proof that the work really overlapped
        assert sorted(r["version"] for r in results.values()) == [2, 3]
        assert sorted(r["rebased"] for r in results.values()) == [
            False, True,
        ]
        with open(done, "w") as f:
            f.write(f"{results}\n")
    hist = None
    for v in (1, 3):  # v2 content is racy (commit order); v1/v3 exact
        snap = read_bucket_table_versioned(spark, path, version=v).select(
            F.lit(v).alias("version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = snap if hist is None else hist.unionByName(snap)
    return (
        hist.groupBy("version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("version", "status")
    )


# -------------------------------------------------------- e_merge_mor
@REG.add(
    "e_merge_mor",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd_a AS (
        SELECT o_orderkey AS k, o_totalprice + 3.0 AS price
        FROM orders WHERE o_orderkey % 83 = 0
        UNION ALL
        SELECT o_orderkey + 900000000, 3.0
        FROM orders WHERE o_orderkey % 831 = 0
    ),
    v2 AS (  -- MOR delta merge: per-column coalesce, status carried
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               t.status AS status
        FROM base t FULL OUTER JOIN upd_a u ON t.k = u.k
    ),
    v3 AS (  -- DV delete
        SELECT * FROM v2 WHERE k NOT IN (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 419 = 0
        )
    ),
    upd_b AS (  -- re-insert a deleted stripe (DV subtract) + updates
        SELECT o_orderkey AS k, 7.0 AS price, 'R' AS status
        FROM orders WHERE o_orderkey % 419 = 0 AND o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 11.0, NULL
        FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 419 <> 0
    ),
    v4 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.price, t.price) AS price,
               COALESCE(u.status, t.status) AS status
        FROM v3 t FULL OUTER JOIN upd_b u ON t.k = u.k
    ),
    hist AS (
        SELECT 1 AS version, status, price FROM base
        UNION ALL SELECT 2, status, price FROM v2
        UNION ALL SELECT 3, status, price FROM v3
        UNION ALL SELECT 4, status, price FROM v4
        UNION ALL SELECT 5, status, price FROM v4  -- compact: neutral
    )
    SELECT version, status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM hist GROUP BY version, status ORDER BY version, status
    """,
    doc="MERGE-ON-READ on the versioned table "
    "(operators/merge_versioned.py::merge_scoped_versioned_mor + "
    "compact_versioned — Delta deletion-vector / Iceberg MoR write "
    "economics): an upsert batch lands as per-bucket DELTA generations "
    "with NO target read, NO join and NO bucket rewrite (write bytes "
    "∝ batch rows; the CoW path rewrites every touched bucket whole — "
    "a 1-row update to a 25 MB bucket costs 25 MB there, ~1 KB here), "
    "and reads reproduce upsert semantics through the ordinal fold "
    "(per column, last non-null across base+deltas — exactly chained "
    "merge_upsert; hash-equivalence law vs a CoW clone in "
    "tests/test_merge_versioned.py). The course: load -> MOR "
    "update+insert -> DV DELETE -> a second MOR merge that RE-INSERTS "
    "part of the deleted stripe (exercising the DV-subtract commit: "
    "without it the bucket-global DV would keep deleting the new row) "
    "-> compact_versioned folding deltas+DVs into fresh base "
    "generations. All five versions are read back via time travel and "
    "aggregated, so the oracle hash proves every fold layer AND that "
    "compaction is content-neutral (v5 ≡ v4 by CTE). Read debt is "
    "bounded: delta chains cap at max_depth (LSM leveling), any CoW "
    "merge/optimize/compact folds, skipping degrades only to bucket "
    "grain for delta buckets. At 100 TB this is the path for "
    "high-frequency small-batch feeds where CoW write amplification "
    "(bucket bytes / batch bytes) dominates the nightly bill.",
)
def e_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        compact_versioned,
        merge_deletes_dv,
        merge_scoped_versioned_mor,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "orders", "morver")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        batch_a = (
            orders.filter(F.col("o_orderkey") % 83 == 0)
            .select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(3.0)).alias("o_totalprice"),
            )
            .unionByName(
                orders.filter(F.col("o_orderkey") % 831 == 0).select(
                    (F.col("o_orderkey") + INS_OFFSET).alias("o_orderkey"),
                    F.lit(3.0).alias("o_totalprice"),
                )
            )
        )
        s2 = merge_scoped_versioned_mor(
            spark, path, batch_a, now=T_MERGE
        )
        assert s2["leveled_buckets"] == 0 and s2["delta_buckets"] > 0
        s3 = merge_deletes_dv(
            spark, path,
            orders.filter(F.col("o_orderkey") % 419 == 0).select(
                "o_orderkey"
            ),
        )
        batch_b = (
            orders.filter(
                (F.col("o_orderkey") % 419 == 0)
                & (F.col("o_orderkey") % 2 == 0)
            )
            .select(
                "o_orderkey",
                F.lit(7.0).alias("o_totalprice"),
                F.lit("R").alias("o_orderstatus"),
            )
            .unionByName(
                orders.filter(
                    (F.col("o_orderkey") % 97 == 0)
                    & (F.col("o_orderkey") % 419 != 0)
                ).select(
                    "o_orderkey",
                    (F.col("o_totalprice") + F.lit(11.0)).alias(
                        "o_totalprice"
                    ),
                    F.lit(None).cast("string").alias("o_orderstatus"),
                )
            )
        )
        s4 = merge_scoped_versioned_mor(spark, path, batch_b, now=T_MERGE)
        s5 = compact_versioned(spark, path)
        assert (
            s2["version"], s3["version"], s4["version"], s5["version"]
        ) == (2, 3, 4, 5)
        with open(done, "w") as f:
            f.write(f"{s2}\n{s3}\n{s4}\n{s5}\n")
    hist = None
    for v in (1, 2, 3, 4, 5):
        snap = read_bucket_table_versioned(spark, path, version=v).select(
            F.lit(v).alias("version"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        hist = snap if hist is None else hist.unionByName(snap)
    return (
        hist.groupBy("version", "status")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("version", "status")
    )


# --------------------------------------------------- e_versioned_rename
@REG.add(
    "e_versioned_rename",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    upd AS (  -- post-alter merge addresses the column by its NEW name
        SELECT o_orderkey AS k, o_totalprice + 9.0 AS amount
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    v3 AS (
        SELECT COALESCE(u.k, t.k) AS k,
               COALESCE(u.amount, t.price) AS amount
        FROM base t FULL OUTER JOIN upd u ON t.k = u.k
    ),
    hist AS (
        -- v1: pre-alter snapshot under the OLD names (price, status)
        SELECT 1 AS version, status AS tag,
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY status
        UNION ALL
        -- v3: post-alter post-merge, 'amount' live, 'status' dropped
        SELECT 3, 'ALL',
               CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE),
               CAST(count(*) AS BIGINT)
        FROM v3
    )
    SELECT version, tag, total, cnt FROM hist ORDER BY version, tag
    """,
    doc="RENAME/DROP COLUMN without a rewrite "
    "(operators/merge_versioned.py::alter_bucket_table_versioned — "
    "Delta column-mapping, name mode): one metadata-only commit "
    "renames price->amount and drops status; data files keep their "
    "birth-time PHYSICAL names (the builder asserts not one "
    "generation dir changed), reads scan under the physical schema "
    "and project to logical names, writes project back, and stats "
    "pruning translates predicates through the mapping. A post-alter "
    "merge updates rows THROUGH the new name (its generation stores "
    "the physical name — raw-file assert); the dropped column's "
    "physical name is RESERVED (dead_phys) so no later merge can leak "
    "its lingering bytes into a new column (SchemaConflict law). Time "
    "travel is exact: the oracle hashes v1 under the OLD names "
    "(price/status grouped) and the post-merge snapshot under the NEW "
    "name — proving the mapping layer end to end at both grains. At "
    "100 TB a rename costs one manifest instead of a table rewrite.",
)
def e_versioned_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        alter_bucket_table_versioned,
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    path = scratch_dir(sf_dir, "orders", "renver")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="o_orderkey", now=T_MERGE),
            path, key="o_orderkey", n_buckets=MS_BUCKETS,
        )
        gens_before = sorted(_glob.glob(f"{path}/bucket=*/g-*"))
        s2 = alter_bucket_table_versioned(
            path, rename={"price": "amount"}, drop=["status"]
        )
        # METADATA-ONLY: the alter moved no data file
        assert sorted(_glob.glob(f"{path}/bucket=*/g-*")) == gens_before
        batch = orders.filter(F.col("o_orderkey") % 101 == 0).select(
            "o_orderkey",
            (F.col("price") + F.lit(9.0)).alias("amount"),
        )
        s3 = merge_scoped_versioned(spark, path, batch, now=T_MERGE)
        assert (s2["version"], s3["version"]) == (2, 3)
        # the post-alter generation stores the PHYSICAL column name
        new_dirs = sorted(
            set(_glob.glob(f"{path}/bucket=*/g-*")) - set(gens_before)
        )
        assert new_dirs
        raw_cols = spark.read.parquet(*new_dirs).columns
        assert "price" in raw_cols and "amount" not in raw_cols
        with open(done, "w") as f:
            f.write(f"{s2}\n{s3}\n")
    v1 = read_bucket_table_versioned(spark, path, version=1)
    pre = (
        v1.groupBy(F.col("status").alias("tag"))
        .agg(
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count("*").cast("long").alias("cnt"),
        )
        .select(F.lit(1).alias("version"), "tag", "total", "cnt")
    )
    v3 = read_bucket_table_versioned(spark, path)
    post = v3.agg(
        F.sum(F.col("amount").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
        F.count("*").cast("long").alias("cnt"),
    ).select(
        F.lit(3).alias("version"), F.lit("ALL").alias("tag"),
        "total", "cnt",
    )
    return pre.unionByName(post).orderBy("version", "tag")


# ----------------------------------------------------- e_manifest_shard
@REG.add(
    "e_manifest_shard",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders
    ),
    mk AS (SELECT MIN(k) AS mk FROM base),
    v2 AS (  -- first merge: +5 on the %97 stripe
        SELECT k,
               CASE WHEN k % 97 = 0 THEN price + 5.0 ELSE price END
                   AS price,
               status
        FROM base
    ),
    v5 AS (  -- single-key merge on TOP of v2
        SELECT v2.k,
               CASE WHEN v2.k = mk.mk THEN b.price + 11.0
                    ELSE v2.price END AS price,
               v2.status
        FROM v2 JOIN base b ON v2.k = b.k CROSS JOIN mk
    ),
    hist AS (
        SELECT 2 AS version, status AS tag,
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(count(*) AS BIGINT) AS cnt
        FROM v2 GROUP BY status
        UNION ALL
        SELECT 5, 'ALL',
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE),
               CAST(count(*) AS BIGINT)
        FROM v5
        UNION ALL
        SELECT 9, 'LOOKUP',
               CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE),
               CAST(1 AS BIGINT)
        FROM v5 CROSS JOIN mk WHERE v5.k = mk.mk
    )
    SELECT version, tag, total, cnt FROM hist ORDER BY version, tag
    """,
    doc="SHARDED manifest layout (operators/merge_versioned.py::"
    "_write_manifest_shards — the Iceberg manifest-list / "
    "Delta-checkpoint shape at bucket-range grain, ceil(sqrt(n)) "
    "buckets per shard: 6 at 32 buckets): a 1-key merge rewrites "
    "EXACTLY ONE shard file while every other shard carries the same "
    "content-addressed reference (commit bytes proportional to the "
    "batch, not the table width — asserted on the roots); the point "
    "lookup goes through the root+one-shard slice loader. The oracle "
    "hashes an earlier version (time travel), the final snapshot, "
    "and the point-lookup row. At 100 TB this caps both per-commit "
    "manifest bytes and plan-time parsing at O(touched shards) - "
    "MANIFESTBENCH_4096 measured 1.9 MB/commit and 564 MB over 300 "
    "commits for the monolithic layout this replaced.",
)
def e_manifest_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.merge_versioned import (
        _load_root,
        merge_scoped_versioned,
        read_bucket_for_key_versioned,
        read_bucket_table_versioned,
        vacuum_bucket_versions,
        write_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    min_key = orders.agg(F.min("k")).collect()[0][0]  # 1 driver value
    path = scratch_dir(sf_dir, "orders", "mshard")
    done = f"{path}/_MERGED"  # crash-safe gate: rebuilt unless complete
    if not os.path.exists(done):
        if os.path.isdir(path):
            shutil.rmtree(path)
        write_bucket_table_versioned(
            merge_upsert(None, orders, key="k", now=T_MERGE),
            path, key="k", n_buckets=MS_BUCKETS,
        )
        b1 = orders.filter(F.col("k") % 97 == 0).select(
            "k", (F.col("price") + F.lit(5.0)).alias("price")
        )
        s2 = merge_scoped_versioned(spark, path, b1, now=T_MERGE)
        root2 = _load_root(path, s2["version"])
        assert len(root2["shards"]) >= 2
        # a 1-key merge rewrites EXACTLY one shard; the rest carry the
        # same content-addressed file (commit bytes ∝ batch)
        b2 = orders.filter(F.col("k") == min_key).select(
            "k", (F.col("price") + F.lit(11.0)).alias("price")
        )
        s3 = merge_scoped_versioned(spark, path, b2, now=T_MERGE)
        root3 = _load_root(path, s3["version"])
        changed = [
            s for s in root3["shards"]
            if root3["shards"][s]["f"]
            != (root2["shards"].get(s) or {}).get("f")
        ]
        assert len(changed) == 1, changed
        # displaced-version shard files are vacuumable storage; the
        # survivors keep every referenced shard (reads stay exact)
        vacuum_bucket_versions(path, keep=2)
        assert (s2["version"], s3["version"]) == (2, 3)
        with open(done, "w") as f:
            f.write(f"{s2}\n{s3}\n")
    v2 = read_bucket_table_versioned(spark, path, version=2)
    pre = (
        v2.groupBy(F.col("status").alias("tag"))
        .agg(
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count("*").cast("long").alias("cnt"),
        )
        .select(F.lit(2).alias("version"), "tag", "total", "cnt")
    )
    cur = read_bucket_table_versioned(spark, path)
    post = cur.agg(
        F.sum(F.col("price").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
        F.count("*").cast("long").alias("cnt"),
    ).select(
        F.lit(5).alias("version"), F.lit("ALL").alias("tag"),
        "total", "cnt",
    )
    # point lookup through the root+one-shard slice loader
    hit = read_bucket_for_key_versioned(spark, path, min_key)
    look = hit.select(
        F.lit(9).alias("version"), F.lit("LOOKUP").alias("tag"),
        F.col("price").cast("decimal(18,2)").cast("double").alias("total"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return pre.unionByName(post).unionByName(look).orderBy(
        "version", "tag"
    )
