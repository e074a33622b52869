"""End-to-end pipeline test: fixtures → normalize → merge → score.

The full CveMate job as one flow: every source normalizer feeds the
wide cve table through OP-MERGE, then the priority ladder scores it —
asserting the cross-source document shape and the scoring semantics
of prioritizer_handler.py:22-48.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cvemate_spark import pipeline
from cvemate_spark.functions.scoring import (
    CVSS_THRESHOLD,
    EPSS_THRESHOLD,
    cvss_base_score,
)
from cvemate_spark.sources import formats

T0 = "2024-01-05 00:00:00"


def _sources(spark, fixture_dir):
    nvd = formats.normalize_nvd(
        formats.read_nvd_json(spark, str(fixture_dir / "nvd_page.json"))
    )
    epss = formats.normalize_epss(
        formats.read_epss_csv(spark, str(fixture_dir / "epss.csv.gz"))
    )
    kev = formats.normalize_kev(spark, str(fixture_dir / "kev.json"))
    exploitdb = formats.normalize_exploitdb(
        spark.read.csv(str(fixture_dir / "files_exploits.csv"), header=True)
    ).dropDuplicates(["id"])
    msf = formats.normalize_metasploit(
        spark, str(fixture_dir / "modules_metadata.json")
    ).dropDuplicates(["id"])
    debian = formats.normalize_debian(
        spark, str(fixture_dir / "debian.json")
    ).dropDuplicates(["id"])
    return [nvd, epss, kev, exploitdb, msf, debian]


def test_build_merge_score(spark, fixture_dir, tmp_path):
    cve = pipeline.build_cve_table(_sources(spark, fixture_dir), now=T0)
    scored = pipeline.score(cve)
    rows = {r["id"]: r for r in scored.collect()}

    # wide-document shape: all source columns present
    for col in ("nvd", "epss", "kev", "exploitdb", "metasploit", "debian"):
        assert col in scored.columns

    # KEV rows are priority 1 regardless of scores (ladder rung 1)
    for kev_id in ("CVE-2024-00001", "CVE-2024-00005"):
        assert rows[kev_id]["kev"] is not None
        assert rows[kev_id]["priority"] == 1

    # ladder parity against a Python re-computation on every row
    for r in rows.values():
        if r["kev"] is not None:
            want = 1
        else:
            base = 0.0
            nvd = r["nvd"]
            if nvd is not None:
                m = nvd["metrics"]
                for fam in ("cvssMetricV31", "cvssMetricV30", "cvssMetricV2"):
                    arr = m[fam] if m is not None else None
                    if arr:
                        base = arr[0]["cvssData"]["baseScore"]
                        break
            epss = float(r["epss"]["epss_score"]) if r["epss"] is not None else 0.0
            if base >= CVSS_THRESHOLD and epss >= EPSS_THRESHOLD:
                want = 1
            elif base >= CVSS_THRESHOLD:
                want = 2
            elif epss >= EPSS_THRESHOLD:
                want = 3
            else:
                want = 4
        assert r["priority"] == want, r["id"]

    # epss-only id (absent from nvd) got inserted, not dropped
    assert rows["CVE-2024-00999"]["nvd"] is None
    assert rows["CVE-2024-00999"]["epss"] is not None

    # write hash-partitioned and read back identical
    out = str(tmp_path / "cve_table")
    pipeline.write_cve_table(scored, out, n_buckets=4)
    back = spark.read.parquet(out)
    assert back.count() == len(rows)


def test_cvss_version_selection_is_presence_gated(spark):
    """prioritizer_handler.py:30-36: the first PRESENT metric key wins
    and its missing baseScore defaults to 0 — no fall-through to the
    next version (a V31-present/score-absent record scores 0.0, not
    its V30 score)."""
    metric_t = "array<struct<cvssData:struct<baseScore:double>>>"
    df = spark.sql(
        f"""
        SELECT id, named_struct('metrics', named_struct(
            'cvssMetricV31', CAST(v31 AS {metric_t}),
            'cvssMetricV30', CAST(v30 AS {metric_t}),
            'cvssMetricV2',  CAST(v2  AS {metric_t}))) AS nvd
        FROM VALUES
            ('v31_wins',        array(named_struct('cvssData', named_struct('baseScore', 9.8D))),
                                array(named_struct('cvssData', named_struct('baseScore', 7.0D))), NULL),
            ('v31_score_absent', array(named_struct('cvssData', named_struct('baseScore', CAST(NULL AS DOUBLE)))),
                                array(named_struct('cvssData', named_struct('baseScore', 7.0D))), NULL),
            ('v30_only',        NULL,
                                array(named_struct('cvssData', named_struct('baseScore', 6.5D))), NULL),
            ('v2_only',         NULL, NULL,
                                array(named_struct('cvssData', named_struct('baseScore', 4.2D)))),
            ('none_present',    NULL, NULL, NULL)
            AS t(id, v31, v30, v2)
        """
    )
    got = {
        r["id"]: r["base"]
        for r in df.select("id", cvss_base_score(F.col("nvd")).alias("base")).collect()
    }
    assert got == {
        "v31_wins": 9.8,
        "v31_score_absent": 0.0,  # NOT the 7.0 fall-through
        "v30_only": 6.5,
        "v2_only": 4.2,
        "none_present": 0.0,
    }


def test_cvss_coalesce_chain(spark, fixture_dir):
    nvd = formats.normalize_nvd(
        formats.read_nvd_json(spark, str(fixture_dir / "nvd_page.json"))
    )
    got = nvd.select(
        "id", cvss_base_score(F.col("nvd")).alias("base")
    ).collect()
    for r in got:
        assert r["base"] is not None and 0.0 <= r["base"] <= 10.0


def _cvss_column_form(nvd):
    """cvss_base_score as it was composed from Column calls before it
    became one SQL expression: the reference semantics to compare."""

    def arm(version):
        return F.coalesce(
            F.element_at(nvd["metrics"][version], 1)["cvssData"]["baseScore"],
            F.lit(0.0),
        )

    metrics = nvd["metrics"]
    return (
        F.when(metrics["cvssMetricV31"].isNotNull(), arm("cvssMetricV31"))
        .when(metrics["cvssMetricV30"].isNotNull(), arm("cvssMetricV30"))
        .when(metrics["cvssMetricV2"].isNotNull(), arm("cvssMetricV2"))
        .otherwise(F.lit(0.0))
    )


# py4j round trips to build cvss_base_score(F.col("nvd")), F.col
# included: the column, its SQL text and one F.expr. Composing the CASE
# from Column calls took 85.
CVSS_ROUND_TRIPS = 8


def test_cvss_base_score_equals_column_form(spark, fixture_dir):
    """Law: the SQL-string form equals the Column form on NULL nvd,
    NULL metrics, missing version keys, missing cvssData, missing
    scores and NULL array elements, and on the NVD fixture page."""
    metric_t = "array<struct<cvssData:struct<baseScore:double>>>"
    arr = "array(named_struct('cvssData', named_struct('baseScore', {})))"
    df = spark.sql(
        f"""
        SELECT id, CASE WHEN id = 'nvd_null' THEN NULL ELSE named_struct('metrics',
            CASE WHEN id = 'metrics_null' THEN NULL ELSE named_struct(
            'cvssMetricV31', CAST(v31 AS {metric_t}),
            'cvssMetricV30', CAST(v30 AS {metric_t}),
            'cvssMetricV2',  CAST(v2  AS {metric_t})) END) END AS nvd
        FROM VALUES
            ('nvd_null', NULL, NULL, NULL),
            ('metrics_null', NULL, NULL, NULL),
            ('none_present', NULL, NULL, NULL),
            ('v31', {arr.format('9.8D')}, {arr.format('7.0D')}, NULL),
            ('v31_score_null', {arr.format('CAST(NULL AS DOUBLE)')}, {arr.format('7.0D')}, NULL),
            ('v31_data_null', array(named_struct('cvssData', CAST(NULL AS struct<baseScore:double>))),
                NULL, {arr.format('5.0D')}),
            ('v31_elem_null', array(CAST(NULL AS struct<cvssData:struct<baseScore:double>>)),
                {arr.format('7.0D')}, NULL),
            ('v30', NULL, {arr.format('6.5D')}, {arr.format('1.0D')}),
            ('v30_score_null', NULL, {arr.format('CAST(NULL AS DOUBLE)')}, {arr.format('1.0D')}),
            ('v2', NULL, NULL, {arr.format('4.2D')})
            AS t(id, v31, v30, v2)
        """
    )
    nvd_page = formats.normalize_nvd(
        formats.read_nvd_json(spark, str(fixture_dir / "nvd_page.json"))
    )
    for frame in (df, nvd_page):
        rows = frame.select(
            "id",
            cvss_base_score(F.col("nvd")).alias("sql"),
            _cvss_column_form(F.col("nvd")).alias("col"),
        ).collect()
        assert rows and all(r["sql"] == r["col"] for r in rows), rows
        assert frame.select(cvss_base_score(F.col("nvd"))).schema[0].dataType == (
            frame.select(_cvss_column_form(F.col("nvd"))).schema[0].dataType
        )


def test_cvss_base_score_round_trip_pin(spark):
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counting(*args, **kwargs):
        n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        cvss_base_score(F.col("nvd"))
    finally:
        client.send_command = send
    assert n[0] <= CVSS_ROUND_TRIPS, n[0]
