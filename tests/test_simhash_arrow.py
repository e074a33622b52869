"""The Arrow simhash vote pass equals both of its references.

`simhash_signatures` / `simhash_signatures_wide(features='token')`
compute token votes in one mapInArrow batch function that md5-hashes
each distinct token of a batch once. Two independent references are
rebuilt here: the per-row SQL form (explode + `spark_str_hash` per
occurrence + grouped sums) and the DuckDB signature over
`duck_str_hash`. Every case is checked at 32 and 60 bits.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cvemate_spark.functions.text import duck_str_hash, py_str_hash, spark_str_hash
from cvemate_spark.operators import dedup
from cvemate_spark.tables import DEFAULT_SF_DIR as SF

BITS = (32, 60)

EDGE_TEXTS = [
    None,
    "",
    " ",
    "  ",
    " lead",
    "trail ",
    "double  space",
    " both  ends ",
    "tab\tinside token",
    "new\nline inside",
    "crlf\r\nend",
    "café naïve",  # 2-byte UTF-8
    "€ 中文 日本",  # 3-byte
    "\U0001d11e \U0001f600 \U0001f600",  # 4-byte
    "é é é",  # combining mark vs precomposed
    "a a a a b",
    "CVE-2024-0001 cve-2024-0001",
    # rows longer than one 255-token counter run of the batch function
    " ".join(["x"] * 255),
    " ".join(["x"] * 256),
    " ".join(["x"] * 600),
    " ".join(f"t{i % 7}" for i in range(600)),
]


def sql_signatures(docs, bits: int):
    """Per-row SQL reference: hash every token occurrence in Spark SQL."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("h", F.expr(spark_str_hash("tok")))
    votes = toks.groupBy("doc_id").agg(
        *[F.expr(f"sum(2 * ((h >> {b}) & 1) - 1)").alias(f"v{b}") for b in range(bits)]
    )
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN 1L ELSE 0L END << {b})" for b in range(bits)
    )
    return votes.select("doc_id", F.expr(sim).alias("simhash"))


def duck_signatures(docs, bits: int) -> set:
    """DuckDB reference over the same rows, hashed by `duck_str_hash`."""
    import duckdb

    documents = docs.select("doc_id", "text").toArrow()  # noqa: F841
    votes = ", ".join(f"SUM(2 * ((h >> {b}) & 1) - 1) AS v{b}" for b in range(bits))
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {b})"
        for b in range(bits)
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        hashed AS (SELECT doc_id, {duck_str_hash('tok')} AS h FROM toks),
        v AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
        SELECT doc_id, {sim} AS simhash FROM v
        """
    ).fetchall()
    return {(d, int(s)) for d, s in rows}


def arrow_signatures(docs, bits: int):
    if bits == 32:
        return dedup.simhash_signatures(docs)
    return dedup.simhash_signatures_wide(docs, bits)


def rows_of(df) -> set:
    return {(r["doc_id"], r["simhash"]) for r in df.collect()}


def assert_equals_references(docs, bits: int) -> set:
    got = rows_of(arrow_signatures(docs, bits))
    assert got == rows_of(sql_signatures(docs, bits)), bits
    assert got == duck_signatures(docs, bits), bits
    return got


@pytest.mark.parametrize("bits", BITS)
def test_corpus_equals_sql_and_duckdb(spark, bits):
    from cvemate_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    got = assert_equals_references(docs, bits)
    assert len(got) == docs.select("doc_id").distinct().count()


@pytest.mark.parametrize("bits", BITS)
def test_edge_texts(spark, bits):
    """NULL, empty and blank texts, stray spaces, tabs and newlines
    inside tokens, multi-byte UTF-8 and combining marks."""
    docs = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id long, text string"
    )
    got = dict(assert_equals_references(docs, bits))
    # NULL text yields no token, so no signature; "" is one empty token
    assert 0 not in got and 1 in got


@pytest.mark.parametrize("bits", BITS)
def test_votes_sum_across_rows_of_one_doc_id(spark, bits):
    """A doc_id spread over several rows (or NULL) gets ONE signature
    from the summed votes, never one per row."""
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (1, "c d"),
            (None, "x y"),
            (None, "y z z"),
            (2, None),
            (2, "q"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = assert_equals_references(docs, bits)
    assert sorted(d for d, _ in got if d is not None) == [1, 2]
    assert sum(d is None for d, _ in got) == 1


def test_summed_votes_pinned_value(spark):
    docs = spark.createDataFrame([(1, "a b c"), (1, "c d")], "doc_id long, text string")
    assert rows_of(dedup.simhash_signatures(docs)) == {(1, 148077435)}


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_doc_id_type_preserved(spark, id_type):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c d"), (None, "e")], f"doc_id {id_type}, text string"
    )
    for bits in BITS:
        out = arrow_signatures(docs, bits)
        assert out.schema["doc_id"].dataType == docs.schema["doc_id"].dataType
        assert out.schema["simhash"].dataType.simpleString() == "bigint"
        assert_equals_references(docs, bits)


def test_empty_frame(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    for bits in BITS:
        out = arrow_signatures(docs, bits)
        assert out.count() == 0
        assert [f.name for f in out.schema] == ["doc_id", "simhash"]


@pytest.mark.parametrize("runs_per_gather", [None, 1])
def test_batch_function_in_process(monkeypatch, runs_per_gather):
    """The batch function itself, run in-process over two batches:
    NULL texts emit no row, each batch's rows come out in order, and a
    row longer than one 255-token counter run sums exactly, with the
    default gather bound and with one counter run per gather."""
    if runs_per_gather is not None:
        monkeypatch.setattr(dedup, "RUNS_PER_GATHER", runs_per_gather)
    long_row = " ".join(f"w{i % 5}" for i in range(700))
    batches = [
        pa.record_batch(
            [
                pa.array([1, 2, 3, 5], pa.int64()),
                pa.array(["a b a", None, "b c  a", long_row]),
            ],
            names=["doc_id", "text"],
        ),
        pa.record_batch(
            [pa.array([4], pa.int64()), pa.array(["c a"])], names=["doc_id", "text"]
        ),
    ]
    out = [r for b in dedup._token_vote_batches(iter(batches), 60) for r in b.to_pylist()]
    assert [r["doc_id"] for r in out] == [1, 3, 5, 4]
    h = {t: py_str_hash(t) for t in ["a", "b", "c", ""] + [f"w{i}" for i in range(5)]}
    for b in range(60):
        bit = {t: 2 * ((v >> b) & 1) - 1 for t, v in h.items()}
        assert out[0][f"v{b}"] == 2 * bit["a"] + bit["b"]
        assert out[1][f"v{b}"] == bit["a"] + bit["b"] + bit["c"] + bit[""]
        assert out[2][f"v{b}"] == 140 * sum(bit[f"w{i}"] for i in range(5))
        assert out[3][f"v{b}"] == bit["a"] + bit["c"]


def test_signature_plan_is_one_arrow_pass(spark):
    """One Arrow-Python node, no explode, no row-at-a-time Python."""
    import re

    from cvemate_spark.plans.audit import physical_plan
    from cvemate_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    for out in (dedup.simhash_signatures(docs), dedup.simhash_signatures_wide(docs, 60)):
        plan = physical_plan(out)
        assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan
        assert "Generate" not in plan and "BatchEvalPython" not in plan, plan


# Spark jobs of registered dedup_canonical at sf0.001, collected under
# its own job group; the per-row form it replaced ran the same 11.
DEDUP_CANONICAL_JOBS = 11


def test_dedup_canonical_job_count_pin(spark):
    from cvemate_spark.queries import REGISTRY

    sc = spark.sparkContext
    group = "simhash-arrow-pin"
    sc.setJobGroup(group, group)
    try:
        REGISTRY.specs["dedup_canonical"].builder(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= DEDUP_CANONICAL_JOBS
