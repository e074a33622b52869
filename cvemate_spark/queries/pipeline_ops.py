"""The full CveMate pipeline (normalize → OP-MERGE fold → OP-SCORE)
as one gated query.

The unit tests prove the merge laws on fixtures; this query proves the
composed pipeline against the DuckDB oracle: three source batches
shaped like the reference's feeds (nvd with the nested CVSS metric
array, epss with string scores, kev presence-only) are derived from
the driver tables, folded through `merge_upsert` — with the epss batch
applied TWICE, so the oracle match also witnesses idempotence — and
scored with the CVSS-coalesce + priority CASE ladder
(prioritizer_handler.py:22-48). The oracle is the relational rewrite:
left joins + the same CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import fsio
from ..pipeline import build_cve_table, score
from ..operators.merge import merge_upsert
from ..tables import load_table
from .base import Registry, scratch_dir

REG = Registry()

_METRIC_T = "array<struct<cvssData:struct<baseScore:double>>>"


def _nvd_batch(orders: DataFrame) -> DataFrame:
    """{id, nvd} with the reference's metric nesting: baseScore derives
    from the key so the oracle can rebuild it ((k % 101) / 10 ∈ [0,10])."""
    base = (F.col("o_orderkey") % 101) / F.lit(10.0)
    metrics = F.struct(
        F.array(
            F.struct(F.struct(base.alias("baseScore")).alias("cvssData"))
        ).cast(_METRIC_T).alias("cvssMetricV31"),
        F.lit(None).cast(_METRIC_T).alias("cvssMetricV30"),
        F.lit(None).cast(_METRIC_T).alias("cvssMetricV2"),
    )
    return orders.select(
        F.concat(F.lit("CVE-2020-"), F.col("o_orderkey")).alias("id"),
        F.struct(metrics.alias("metrics")).alias("nvd"),
    )


def _epss_batch(lineitem: DataFrame) -> DataFrame:
    """{id, epss} with STRING scores (cast-at-use, SURVEY §1.2), score
    derived from the per-order lineitem count."""
    agg = lineitem.groupBy("l_orderkey").agg(F.count("*").alias("n_items"))
    score_str = F.concat(
        F.lit("0."), F.lpad(((F.col("n_items") * 7) % 100).cast("string"), 2, "0")
    )
    return agg.select(
        F.concat(F.lit("CVE-2020-"), F.col("l_orderkey")).alias("id"),
        F.struct(score_str.alias("epss_score")).alias("epss"),
    )


def _kev_batch(orders: DataFrame) -> DataFrame:
    """{id, kev}: every 13th order is 'known exploited'."""
    return orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.concat(F.lit("CVE-2020-"), F.col("o_orderkey")).alias("id"),
        F.struct(F.lit("2026-03-01").alias("dateAdded")).alias("kev"),
    )


@REG.add(
    "cve_pipeline_fold",
    """
    WITH nvd AS (
        SELECT 'CVE-2020-' || CAST(o_orderkey AS VARCHAR) AS id,
               (o_orderkey % 101) / 10.0 AS base
        FROM orders
    ),
    epss AS (
        SELECT 'CVE-2020-' || CAST(l_orderkey AS VARCHAR) AS id,
               CAST('0.' || lpad(CAST((count(*) * 7) % 100 AS VARCHAR), 2, '0')
                    AS DOUBLE) AS epss
        FROM lineitem GROUP BY l_orderkey
    ),
    kev AS (
        SELECT 'CVE-2020-' || CAST(o_orderkey AS VARCHAR) AS id
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT CASE WHEN k.id IS NOT NULL THEN 1
                    WHEN n.base >= 6.0 AND coalesce(e.epss, 0.0) >= 0.2 THEN 1
                    WHEN n.base >= 6.0 THEN 2
                    WHEN coalesce(e.epss, 0.0) >= 0.2 THEN 3
                    ELSE 4 END AS priority
        FROM nvd n
        LEFT JOIN epss e ON n.id = e.id
        LEFT JOIN kev k ON n.id = k.id
    )
    GROUP BY priority
    ORDER BY priority, cnt
    """,
    doc="CveMate pipeline, merge_upsert fold shape: per-source batches "
    "folded through OP-MERGE (epss applied twice — idempotence witnessed "
    "by the oracle match), scored by the CVSS + CASE ladder (OP-SCORE), "
    "priority histogram out. One shuffle per merge, all on `id`.",
)
def cve_pipeline_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    epss = _epss_batch(lineitem)
    cve = build_cve_table([_nvd_batch(orders), epss, _kev_batch(orders)])
    cve = merge_upsert(cve, epss, key="id")  # idempotent re-apply
    return (
        score(cve)
        .groupBy("priority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("priority", "cnt")
    )


@REG.add(
    "cve_pipeline_versioned",
    REG.specs["cve_pipeline_fold"].oracle,
    doc="The reference's NIGHTLY LIFECYCLE on the versioned lakehouse "
    "table: the same three feed batches as cve_pipeline_fold, but each "
    "lands as one ATOMIC commit into the id-keyed versioned bucket "
    "table (operators/merge_versioned.py) — init, nvd, epss, kev, then "
    "epss RE-APPLIED. Identical priority histogram (same oracle — "
    "idempotence witnessed by the hash), plus everything the reference "
    "can't give its consumers: every feed boundary is a time-travelable "
    "version; downstream consumers pull exact row-level change feeds "
    "per commit; and the idempotent re-apply's feed is EMPTY — the "
    "builder asserts CDC sees through no-op commits instead of "
    "re-notifying consumers (the reference re-stamps "
    "`get_last_update_time` and makes every consumer re-pull, "
    "mongodb_handler.py:261-289). The epss and kev merges also "
    "exercise SCHEMA EVOLUTION in anger: each adds its source column "
    "to the live table with zero rewritten bytes on untouched "
    "buckets. Scale shape per feed: one shuffle keyed on id, write "
    "cost ∝ batch's bucket footprint, one manifest/pointer commit.",
)
def cve_pipeline_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge_versioned import (
        change_feed,
        history,
        init_bucket_table_versioned,
        latest_version,
        merge_scoped_versioned,
        read_bucket_table_versioned,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    t_merge = "2026-01-01 00:00:00"

    path = scratch_dir(sf_dir, "orders", "cvever")

    def build():
        init_bucket_table_versioned(path, key="id", n_buckets=32)
        for batch in (
            _nvd_batch(orders),
            _epss_batch(lineitem),
            _kev_batch(orders),
            _epss_batch(lineitem),  # idempotent re-apply
        ):
            merge_scoped_versioned(spark, path, batch, now=t_merge)
        assert latest_version(path) == 5
        return 5

    fsio.build_once(path, build)
    # provenance: empty init + one version per feed commit
    assert [e["op"] for e in history(path)] == ["init"] + ["merge"] * 4
    # CDC sees through the idempotent re-apply: its feed is EMPTY (the
    # reference would re-stamp its watermark and re-notify everyone)
    noop = change_feed(spark, path, 4, 5)
    assert noop is None or noop.count() == 0
    # ...while a real feed commit emits exactly its changes
    assert change_feed(spark, path, 2, 3).count() > 0
    cve = read_bucket_table_versioned(spark, path)
    return (
        score(cve)
        .groupBy("priority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("priority", "cnt")
    )


@REG.add(
    "cve_pipeline_1shuffle",
    REG.specs["cve_pipeline_fold"].oracle,
    doc="Same pipeline as cve_pipeline, built with merge_many — the "
    "single-shuffle multi-source merge (tag + union + groupBy(id)) "
    "instead of one full-outer join per source. Identical result, "
    "k-fold fewer exchanges; the shape for the nightly all-sources run.",
)
def cve_pipeline_1shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_many

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cve = merge_many(
        {
            "nvd": _nvd_batch(orders),
            "epss": _epss_batch(lineitem),
            "kev": _kev_batch(orders),
        }
    )
    return (
        score(cve)
        .groupBy("priority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("priority", "cnt")
    )


# ---------------------------------------------------- full-width pipeline
FEEDS = ("nvd", "redhat", "exploitdb", "epss", "kev", "metasploit", "debian", "cveorg")


def _real_feeds(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All 8 reference feeds through their REAL landing files and
    normalizers (main.py:64-89 runs NVD→ExploitDB→Metasploit→CWE→EPSS→
    CISA each job; RedHat/Debian/CVE.org handlers merge into the same
    cve collection). The CWE catalog is a dimension, not a per-CVE
    feed — it enriches via `cwe_enrich`, exactly like the reference's
    separate cwe collection."""
    from ..sources import landing
    from ..sources.formats import (
        normalize_cveorg_delta,
        normalize_debian,
        normalize_epss,
        normalize_exploitdb,
        normalize_kev,
        normalize_metasploit,
        normalize_nvd,
        normalize_redhat,
        read_epss_csv,
        read_nvd_json,
        read_redhat_json,
    )

    delta = normalize_cveorg_delta(spark, landing.gen_delta_log(sf_dir))
    cveorg = (
        delta.filter(
            F.col("fetch_time") > F.lit(landing.DELTA_WATERMARK).cast("timestamp")
        )
        .groupBy("id")
        .agg(F.max("fetch_time").alias("fetch_time"))
        .select("id", F.struct("fetch_time").alias("cveorg"))
    )
    return {
        "nvd": normalize_nvd(read_nvd_json(spark, landing.gen_nvd_pages(sf_dir))),
        "redhat": normalize_redhat(
            read_redhat_json(spark, landing.gen_redhat_pages(sf_dir))
        ),
        "exploitdb": normalize_exploitdb(
            spark.read.csv(landing.gen_exploitdb_csv(sf_dir), header=True)
        ),
        "epss": normalize_epss(read_epss_csv(spark, landing.gen_epss_csv(sf_dir))),
        "kev": normalize_kev(spark, landing.gen_kev_json(sf_dir)),
        "metasploit": normalize_metasploit(
            spark, landing.gen_metasploit_json(sf_dir)
        ),
        "debian": normalize_debian(spark, landing.gen_debian_json(sf_dir)),
        "cveorg": cveorg,
    }


_WIDE_ORACLE = """
    WITH nvd AS (
        SELECT 'CVE-2020-' || CAST(o_orderkey AS VARCHAR) AS id,
               CASE WHEN o_orderkey % 4 = 3 THEN 0.0
                    ELSE (o_orderkey % 101) / 10.0 END AS base
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 600)
    ),
    redhat AS (
        SELECT 'CVE-2020-' || CAST(s_suppkey AS VARCHAR) AS id
        FROM (SELECT s_suppkey FROM supplier ORDER BY s_suppkey LIMIT 100)
    ),
    edb AS (
        SELECT 'CVE-2022-' || CAST(p_partkey AS VARCHAR) AS id
        FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 400)
        UNION ALL
        SELECT 'CVE-2023-' || CAST(p_partkey AS VARCHAR) AS id
        FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 400)
        WHERE p_partkey % 3 = 0
    ),
    epss AS (
        SELECT 'CVE-2024-' || CAST(event_id AS VARCHAR) AS id,
               CAST('0.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
                    AS DOUBLE) AS escore
        FROM (SELECT event_id FROM events ORDER BY event_id LIMIT 2000)
        WHERE event_id % 97 <> 0
    ),
    kev AS (
        SELECT 'CVE-2020-' || CAST(o_orderkey AS VARCHAR) AS id
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 500)
    ),
    msf AS (
        SELECT 'CVE-2020-' || CAST(o_orderkey AS VARCHAR) AS id
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 300)
    ),
    deb AS (
        SELECT 'CVE-2021-' || CAST(c_custkey AS VARCHAR) AS id
        FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 400)
    ),
    cveorg AS (
        SELECT 'CVE-2024-' || CAST(event_id AS VARCHAR) AS id
        FROM (SELECT event_id FROM events ORDER BY event_id LIMIT 400)
    ),
    ids AS (
        SELECT id FROM nvd UNION SELECT id FROM redhat
        UNION SELECT id FROM edb UNION SELECT id FROM epss
        UNION SELECT id FROM kev UNION SELECT id FROM msf
        UNION SELECT id FROM deb UNION SELECT id FROM cveorg
    ),
    wide AS (
        SELECT i.id,
               n.id IS NOT NULL AS has_nvd,
               r.id IS NOT NULL AS has_redhat,
               e.id IS NOT NULL AS has_exploitdb,
               p.id IS NOT NULL AS has_epss,
               k.id IS NOT NULL AS has_kev,
               m.id IS NOT NULL AS has_metasploit,
               d.id IS NOT NULL AS has_debian,
               c.id IS NOT NULL AS has_cveorg,
               CASE WHEN k.id IS NOT NULL THEN 1
                    WHEN coalesce(n.base, 0.0) >= 6.0
                         AND coalesce(p.escore, 0.0) >= 0.2 THEN 1
                    WHEN coalesce(n.base, 0.0) >= 6.0 THEN 2
                    WHEN coalesce(p.escore, 0.0) >= 0.2 THEN 3
                    ELSE 4 END AS priority
        FROM ids i
        LEFT JOIN nvd n ON i.id = n.id
        LEFT JOIN redhat r ON i.id = r.id
        LEFT JOIN (SELECT DISTINCT id FROM edb) e ON i.id = e.id
        LEFT JOIN epss p ON i.id = p.id
        LEFT JOIN kev k ON i.id = k.id
        LEFT JOIN msf m ON i.id = m.id
        LEFT JOIN deb d ON i.id = d.id
        LEFT JOIN cveorg c ON i.id = c.id
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN has_nvd THEN 1 ELSE 0 END) AS BIGINT) AS n_nvd,
           CAST(sum(CASE WHEN has_redhat THEN 1 ELSE 0 END) AS BIGINT) AS n_redhat,
           CAST(sum(CASE WHEN has_exploitdb THEN 1 ELSE 0 END) AS BIGINT) AS n_exploitdb,
           CAST(sum(CASE WHEN has_epss THEN 1 ELSE 0 END) AS BIGINT) AS n_epss,
           CAST(sum(CASE WHEN has_kev THEN 1 ELSE 0 END) AS BIGINT) AS n_kev,
           CAST(sum(CASE WHEN has_metasploit THEN 1 ELSE 0 END) AS BIGINT) AS n_metasploit,
           CAST(sum(CASE WHEN has_debian THEN 1 ELSE 0 END) AS BIGINT) AS n_debian,
           CAST(sum(CASE WHEN has_cveorg THEN 1 ELSE 0 END) AS BIGINT) AS n_cveorg
    FROM wide
    GROUP BY priority
    ORDER BY priority, n
    """


@REG.add(
    "cve_pipeline",
    _WIDE_ORACLE,
    doc="The full-width CveMate pipeline: all 8 per-CVE feeds "
    "(NVD, RedHat, ExploitDB, EPSS, KEV, Metasploit, Debian, CVE.org "
    "delta — ref main.py:64-89 plus the RedHat/Debian/CVE.org handlers) "
    "read through their REAL landing files and normalizers, folded into "
    "the wide cve row by merge_many (ONE shuffle for all 8 sources), "
    "epss re-applied through merge_upsert (idempotence witnessed by the "
    "oracle match), scored with the presence-gated CVSS + CASE ladder. "
    "Output: per-priority counts and per-source presence counts — the "
    "per-source isolation law at full width, against a relational "
    "left-join oracle.",
)
def cve_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_many

    feeds = _real_feeds(spark, sf_dir)
    cve = merge_many(feeds)
    cve = merge_upsert(cve, feeds["epss"], key="id")  # idempotent re-apply
    scored = score(cve)
    return (
        scored.groupBy("priority")
        .agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.col(s).isNotNull().cast("long")).alias(f"n_{s}")
                for s in FEEDS
            ],
        )
        .orderBy("priority", "n")
    )
