"""Priority scoring (OP-SCORE).

Re-expresses `determine_priority` from the reference
(`handlers/prioritizer_handler.py:22-48`, thresholds at `:18-19`) as a
single Catalyst CASE expression — no cursor loop, no per-row Python.
The reference iterates documents in 500-row batches and writes the
score back row-by-row; here it is one `withColumn` over the table and
Catalyst prunes the scan to exactly the referenced columns.

Ladder (prioritizer_handler.py:40-48):
    kev present                          -> 1
    base >= B and epss >= E              -> 1
    base >= B                            -> 2
    epss >= E                            -> 3
    otherwise                            -> 4
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

CVSS_THRESHOLD = 6.0  # prioritizer_handler.py:18
EPSS_THRESHOLD = 0.2  # prioritizer_handler.py:19
# prioritizer_handler.py:30-36, in the reference's order of preference
CVSS_VERSIONS = ("cvssMetricV31", "cvssMetricV30", "cvssMetricV2")


def priority_column(
    kev: Column,
    base_score: Column,
    epss_score: Column,
    base_threshold: float = CVSS_THRESHOLD,
    epss_threshold: float = EPSS_THRESHOLD,
) -> Column:
    """The ladder as one CASE expression.

    `kev` is a boolean column ("row is on the KEV list"); `base_score`
    and `epss_score` may be null (null comparisons are false, exactly
    like the reference's `.get(..., 0)` defaults after the 0-compare).
    """
    base_hit = base_score >= base_threshold
    epss_hit = epss_score >= epss_threshold
    return (
        F.when(kev, 1)
        .when(base_hit & epss_hit, 1)
        .when(base_hit, 2)
        .when(epss_hit, 3)
        .otherwise(4)
    )


def cvss_base_score(nvd: Column) -> Column:
    """CVSS version selection (prioritizer_handler.py:30-36).

    The reference picks the first *present* metric key — `if
    'cvssMetricV31' in metrics: ... elif 'cvssMetricV30' ...` — and
    uses that version's `[0].cvssData.baseScore` with a default of 0
    when the score itself is missing. It never falls through to the
    next version once a key is present, so a record with cvssMetricV31
    present but baseScore absent scores 0.0, NOT its v3.0 score. Here
    key-presence is array-column non-nullness on the wide `cve` table's
    `nvd` struct, and each arm defaults its own missing baseScore to
    0.0 to match `.get('baseScore', 0)`.

    The CASE is parsed from one SQL string around the column's own SQL
    text, so `nvd` must be a column reference such as `F.col("nvd")`.
    Building `cvss_base_score(F.col("nvd"))` takes 8 py4j round trips;
    composing the CASE from Column calls took 85, and every point
    lookup and scored scan builds it.
    """
    n = nvd._jc.node().sql()
    arms = " ".join(
        f"WHEN {n}.metrics.{v} IS NOT NULL"
        f" THEN coalesce(element_at({n}.metrics.{v}, 1).cvssData.baseScore, 0.0D)"
        for v in CVSS_VERSIONS
    )
    return F.expr(f"CASE {arms} ELSE 0.0D END")


def score_cve_table(cve, kev_col: str = "kev", nvd_col: str = "nvd", epss_col: str = "epss"):
    """Score the wide cve table: adds the `priority` int column.

    epss scores are stored as strings (cast-at-use semantics, SURVEY
    §1.2) and cast to double here, mirroring prioritizer_handler.py:38.
    """
    return cve.withColumn(
        "priority",
        priority_column(
            kev=F.col(kev_col).isNotNull(),
            base_score=cvss_base_score(F.col(nvd_col)),
            epss_score=F.coalesce(
                F.col(f"{epss_col}.epss_score").cast("double"), F.lit(0.0)
            ),
        ),
    )
