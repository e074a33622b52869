"""Curation-rule + sketch + layout queries (SURVEY §2.12 extensions).

Published-pipeline curation operators over `documents`, plus the
engine-surface gates for the count-min sketch and the z-order key:

- t_gopher        Gopher-style document quality rules (Rae et al. 2021,
                  App. A): word count, mean word length, symbol ratio,
                  alphabetic-word fraction, stopword floor → keep flag.
- dedup_paragraph MassiveText-style duplicated-paragraph removal; this
                  corpus has no newlines, so a "paragraph" is a fixed
                  4-token block (documented adaptation — the machinery
                  (block → hash → corpus-wide count → per-doc dup
                  fraction → keep) is the published shape).
- e_cms           count-min sketch built as a distributed aggregation,
                  probed for the top-20 terms; the portable md5 hash
                  makes the sketch bit-identical in DuckDB, so even the
                  sketch's overcounts are oracle-checked.
- e_zorder        Morton z-value of two quantized event dimensions —
                  the clustering key behind operators/layout.py.
- e_zorder_part   the partitioned z-bucket layout end-to-end: write
                  partitionBy(z-bucket), read a query box through
                  listing-time PartitionFilters (no manifest collect).

All JVM-side (lambda folds, bit ops, regex); no Python in any scan.
Every keep/threshold decision is integer arithmetic (e.g. mean word
length in [3,10] tested as charsum BETWEEN 3*n AND 10*n) so the flags
can never float-drift between engines; only display fractions are
rounded, with the portable floor(x*1e4+0.5) half-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import duck_str_hash
from ..operators.layout import zorder_expr_duck, zorder_expr_spark
from ..operators.sketch import DEPTH, WIDTH, _bucket_expr_duck, cms_build, cms_estimate
from ..tables import load_table
from .base import SCRATCH_ROOT, Registry

REG = Registry()

BLOCK_W = 4  # tokens per dedup_paragraph block (corpus vocab is ~31 words,
# so 4-token blocks give a real duplicated-block population to measure)


# ------------------------------------------------------ t_gopher
@REG.add(
    "t_gopher",
    """
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           floor(charsum * 10000.0 / n_words + 0.5) / 10000.0 AS mean_wlen,
           CAST(n_stop AS BIGINT) AS stop_cnt,
           floor(n_alpha * 10000.0 / n_words + 0.5) / 10000.0 AS alpha_frac,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND charsum BETWEEN 3 * n_words AND 10 * n_words
                      AND 5 * n_alpha > 4 * n_words
                      AND 10 * n_sym < n_words
                      AND n_stop >= 2
                 THEN 1 ELSE 0 END AS INT) AS keep
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               list_sum(list_transform(string_split(text, ' '),
                                       w -> len(w))) AS charsum,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ('the', 'a'))) AS n_stop,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM documents
    )
    ORDER BY doc_id
    """,
    doc="Gopher-style quality rules (word count 50..100k, mean word length "
    "3..10, symbol ratio < 0.1, alphabetic-word fraction > 0.8, >= 2 "
    "stopwords) as ONE scan; all keep decisions are integer-exact.",
)
def t_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(split(text, ' '), w -> length(w)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("charsum"),
        F.size(F.filter(toks, lambda w: w.isin("the", "a"))).cast("long").alias("n_stop"),
        F.expr("size(filter(split(text, ' '), w -> w rlike '[a-z]'))")
        .cast("long")
        .alias("n_alpha"),
        (
            F.size(F.expr("regexp_extract_all(text, '#', 0)"))
            + F.size(F.expr("regexp_extract_all(text, '\\\\.\\\\.\\\\.', 0)"))
        )
        .cast("long")
        .alias("n_sym"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("charsum").between(3 * F.col("n_words"), 10 * F.col("n_words"))
        & (5 * F.col("n_alpha") > 4 * F.col("n_words"))
        & (10 * F.col("n_sym") < F.col("n_words"))
        & (F.col("n_stop") >= 2)
    )
    return base.select(
        "doc_id",
        "n_words",
        (F.floor(F.col("charsum") * 10000.0 / F.col("n_words") + 0.5) / 10000.0).alias(
            "mean_wlen"
        ),
        F.col("n_stop").alias("stop_cnt"),
        (F.floor(F.col("n_alpha") * 10000.0 / F.col("n_words") + 0.5) / 10000.0).alias(
            "alpha_frac"
        ),
        keep.cast("int").alias("keep"),
    ).orderBy("doc_id")


# ------------------------------------------------------ dedup_paragraph
@REG.add(
    "dedup_paragraph",
    f"""
    WITH blk AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(CAST(ceil(len(toks) / {BLOCK_W}.0) AS BIGINT)),
                   i -> array_to_string(
                       toks[i*{BLOCK_W}+1 : i*{BLOCK_W}+{BLOCK_W}], ' '))) AS block
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    hashed AS (SELECT doc_id, md5(block) AS bh FROM blk),
    cnt AS (SELECT bh, count(*) AS c FROM hashed GROUP BY bh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_blocks,
           floor(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 10000.0 / count(*)
                 + 0.5) / 10000.0 AS dup_frac,
           CAST(CASE WHEN 5 * sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) <= count(*)
                 THEN 1 ELSE 0 END AS INT) AS keep
    FROM hashed JOIN cnt USING (bh)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Duplicated-paragraph removal (MassiveText shape) at 4-token-block "
    "granularity: corpus-wide block-hash counts -> per-doc duplicated "
    "fraction -> keep at <= 20% (integer-exact). Two keyed shuffles + one "
    "join; the per-block count relation is UNHINTED (AQE decides — at 100 TB "
    "it is corpus-sized, never broadcastable).",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blk = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {BLOCK_W}.0)"
                f" as int) - 1), i -> array_join(slice(split(text, ' '),"
                f" i*{BLOCK_W}+1, {BLOCK_W}), ' '))"
            )
        ).alias("block"),
    )
    hashed = blk.select("doc_id", F.md5(F.col("block").cast("binary")).alias("bh"))
    cnt = hashed.groupBy("bh").agg(F.count("*").alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        hashed.join(cnt, "bh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            dup.cast("long").alias("dup_blocks"),
            (F.floor(dup * 10000.0 / F.count("*") + 0.5) / 10000.0).alias("dup_frac"),
            (5 * dup <= F.count("*")).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------ t_overlap
@REG.add(
    "t_overlap",
    """
    WITH sh AS (
        SELECT DISTINCT source, shingle
        FROM (
            SELECT source,
                   unnest(list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
            FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
        )
    ),
    sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    pairs AS (
        SELECT a.source AS s1, b.source AS s2, count(*) AS inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s1, s2,
           CAST(n1.n AS BIGINT) AS n1, CAST(n2.n AS BIGINT) AS n2,
           CAST(inter AS BIGINT) AS inter,
           floor(inter * 10000.0 / (n1.n + n2.n - inter) + 0.5) / 10000.0 AS jacc
    FROM pairs
    JOIN sz n1 ON pairs.s1 = n1.source
    JOIN sz n2 ON pairs.s2 = n2.source
    ORDER BY s1, s2
    """,
    doc="Cross-source corpus overlap: exact 3-gram Jaccard per source pair "
    "(the dataset-contamination / dataset-overlap audit). Per-source "
    "DISTINCT shingle sets -> self-join on shingle -> pair intersection "
    "sizes. The pair space is |sources|^2 (bounded); the shingle self-join "
    "is vocabulary-keyed — AQE's skew handling covers hot shingles, and "
    "the size relation (one row per SOURCE, not per doc) is safely small.",
)
def t_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs, id_col="source").distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count("*").alias("inter"))
    )
    n1 = sizes.select(F.col("source").alias("s1"), F.col("n").alias("_n1"))
    n2 = sizes.select(F.col("source").alias("s2"), F.col("n").alias("_n2"))
    union_size = F.col("_n1") + F.col("_n2") - F.col("inter")
    return (
        pairs.join(n1, "s1")
        .join(n2, "s2")
        .select(
            "s1",
            "s2",
            F.col("_n1").cast("long").alias("n1"),
            F.col("_n2").cast("long").alias("n2"),
            F.col("inter").cast("long").alias("inter"),
            (F.floor(F.col("inter") * 10000.0 / union_size + 0.5) / 10000.0).alias(
                "jacc"
            ),
        )
        .orderBy("s1", "s2")
    )


# ------------------------------------------------------ e_cms
_DUCK_BUCKET = _bucket_expr_duck("term", "j", WIDTH)

@REG.add(
    "e_cms",
    f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    js AS (SELECT unnest(range({DEPTH})) AS j),
    sketch AS (
        SELECT j, {_DUCK_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM tok CROSS JOIN js
        GROUP BY 1, 2
    ),
    true_top AS (
        SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
        FROM tok GROUP BY term
        ORDER BY true_cnt DESC, term LIMIT 20
    ),
    probe AS (
        SELECT term, true_cnt, j, {_DUCK_BUCKET} AS bucket
        FROM true_top CROSS JOIN js
    )
    SELECT p.term AS term, p.true_cnt AS true_cnt,
           CAST(min(s.cnt) AS BIGINT) AS est,
           CAST(min(s.cnt) - p.true_cnt AS BIGINT) AS overcount
    FROM probe p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
    GROUP BY p.term, p.true_cnt
    ORDER BY true_cnt DESC, term
    """,
    doc="Count-min sketch (d=4, w=256) built as one map-side-combinable "
    "aggregation, probed for the top-20 terms; est/overcount are exact "
    "integers in both engines because the cell hash is the portable "
    "md5-prefix hash — the oracle rebuilds the identical sketch.",
)
def e_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    sketch = cms_build(tok)
    true_top = (
        tok.groupBy("term")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("term"))
        .limit(20)
    )
    est = cms_estimate(sketch, true_top.select("term"))
    return (
        true_top.join(est, "term")
        .select(
            "term",
            "true_cnt",
            "est",
            (F.col("est") - F.col("true_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("term"))
    )


# ------------------------------------------------------ e_zorder
@REG.add(
    "e_zorder",
    f"""
    SELECT event_id, x, y,
           CAST({zorder_expr_duck('x', 'y')} AS BIGINT) AS z
    FROM (
        SELECT event_id,
               user_id % 256 AS x,
               CAST(floor(value / 2.0) AS BIGINT) AS y
        FROM events
    )
    ORDER BY z, event_id
    LIMIT 100
    """,
    doc="Morton z-value of two quantized event dimensions (8 bits each, "
    "shiftleft/shiftright/& inside codegen) — the clustering key "
    "operators/layout.py writes files by; bit-identical in DuckDB.",
)
def e_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    quant = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("x"),
        F.floor(F.col("value") / 2.0).cast("long").alias("y"),
    )
    return (
        quant.select(
            "event_id",
            "x",
            "y",
            F.expr(zorder_expr_spark("x", "y")).cast("long").alias("z"),
        )
        .orderBy("z", "event_id")
        .limit(100)
    )



# ------------------------------------------------------ t_classify
CLS_B = 4096  # hashed feature buckets
CLS_MULT = 2654435761  # Knuth multiplicative constant -> pseudo-weights

_SPARK_TERM_HASH = "cast(conv(substring(md5(term), 1, 15), 16, 10) as bigint)"
_DUCK_TERM_HASH = "CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT)"


@REG.add(
    "t_classify",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    feats AS (
        SELECT doc_id,
               (({_DUCK_TERM_HASH} % {CLS_B}) * {CLS_MULT}) % 2001 - 1000 AS w
        FROM tok
    ),
    scored AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(w) AS BIGINT) AS score_sum
        FROM feats GROUP BY doc_id
    )
    SELECT doc_id, n_tok, score_sum,
           floor(CAST(score_sum AS DOUBLE) * 10000.0 / n_tok + 0.5)
               / 10000.0 AS mean_w,
           CASE WHEN score_sum > 0 THEN 'pos' ELSE 'neg' END AS label
    FROM scored
    ORDER BY doc_id
    """,
    doc="Hashed linear text classifier inference (the fastText / "
    "hashing-trick shape every corpus quality-classifier filter runs "
    "at scale): token -> 60-bit md5 hash -> one of 4096 feature "
    "buckets -> fixed integer weight (multiplicative-hash "
    "pseudo-weights standing in for trained coefficients, which would "
    "arrive as a 4096-row broadcast relation); document score = sum "
    "of token weights, thresholded at 0. ONE scan + one map-side "
    "partial-agg'd doc_id shuffle, everything JVM codegen; integer "
    "score sums are order-independent so the gate is exact. Swapping "
    "trained weights in changes the weight expression to a broadcast "
    "join against a bucket->weight dim, nothing else.",
)
def t_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    w = F.expr(
        f"(({_SPARK_TERM_HASH} % {CLS_B}) * {CLS_MULT}L) % 2001 - 1000"
    )
    scored = tok.select("doc_id", w.alias("w")).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.sum("w").cast("long").alias("score_sum"),
    )
    return scored.select(
        "doc_id",
        "n_tok",
        "score_sum",
        (
            F.floor(
                F.col("score_sum").cast("double") * 10000.0 / F.col("n_tok")
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("mean_w"),
        F.when(F.col("score_sum") > 0, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    ).orderBy("doc_id")



# ------------------------------------------------ t_classify_grad
@REG.add(
    "t_classify_grad",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    feats AS (
        SELECT doc_id, {_DUCK_TERM_HASH} % {CLS_B} AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM tok GROUP BY doc_id, bucket
    ),
    lab AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    )
    SELECT bucket, CAST(sum((500000 - 1000000 * y) * cnt) AS BIGINT) AS g
    FROM feats JOIN lab USING (doc_id)
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="First gradient of the hashed-feature quality-classifier "
    "trainer (operators/classifier.py), label = (lang = 'en'). From "
    "zero weights sigmoid(0) = 1/2 EXACTLY, so the logistic-loss "
    "gradient is pure rational arithmetic — (1/2 - y) * cnt in "
    "integer micro-units — and the distributed trainer's core "
    "computation (featurize -> margin -> row-local quantize -> exact "
    "BIGINT bucket sum) gets a bit-exact SQL oracle. The iterative "
    "loop on top is gated by pytest laws (loss decreases, learns a "
    "planted signal, weights invariant under repartitioning) since "
    "sigmoid of nonzero margins has no SQL form. Scale shape: the "
    "weight state is 4096 rows by construction (broadcast dim), "
    "per iteration two map-side-combinable keyed shuffles; corpus "
    "rows never reach the driver.",
)
def t_classify_grad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import N_BUCKETS, featurize, gradient_step

    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    g = gradient_step(featurize(docs), labels, [0] * N_BUCKETS)
    return g.select("bucket", F.col("g").cast("long")).orderBy("bucket")


# ------------------------------------------------ curate_pipeline2
_SPARK_W_FOLD = (
    "aggregate(transform(split(text, ' '), t -> "
    "((cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) % 4096)"
    " * 2654435761L) % 2001 - 1000), 0L, (acc, x) -> acc + x)"
)
_DUCK_W_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(text, ' '), t -> "
    "((CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 4096)"
    " * 2654435761) % 2001 - 1000)), (acc, x) -> acc + x)"
)


@REG.add(
    "curate_pipeline2",
    f"""
    WITH sig AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tok,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ('the', 'a'))) AS n_stop,
               list_sum(list_transform(string_split(text, ' '),
                                       w -> len(w))) AS charsum,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
               {_DUCK_W_FOLD} AS score_sum,
               md5(text) AS digest
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM sig
    )
    SELECT source,
           CASE WHEN n_stop * 10 > n_tok THEN 'en' ELSE 'other' END AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn = 1
                          AND n_tok BETWEEN 50 AND 100000
                          AND charsum BETWEEN 3 * n_tok AND 10 * n_tok
                          AND 5 * n_alpha > 4 * n_tok
                          AND n_stop >= 2
                          AND score_sum > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn = 1
                          AND n_tok BETWEEN 50 AND 100000
                          AND charsum BETWEEN 3 * n_tok AND 10 * n_tok
                          AND 5 * n_alpha > 4 * n_tok
                          AND n_stop >= 2
                          AND score_sum > 0
                     THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM ranked
    GROUP BY source, pred_lang
    ORDER BY source, pred_lang, n_docs, n_kept, kept_tokens
    """,
    doc="Composed curation v2 — four signals from ONE scan: language-ID "
    "(stopword ratio), Gopher length/word-shape/stopword rules, the "
    "hashed linear classifier score (a row-local lambda fold — no "
    "explode, no extra shuffle), and exact-dedup survivorship (min "
    "doc_id per digest). Per (source, predicted-lang): doc count, "
    "kept count, kept token budget. TWO shuffles end to end (digest "
    "window + final agg) no matter how many signals ride the scan — "
    "the composition law for curation at 100 TB: signals are scan "
    "expressions, not passes.",
)
def curate_pipeline2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sig = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda w: w.isin("the", "a")))
        .cast("long")
        .alias("n_stop"),
        F.expr(
            "aggregate(transform(split(text, ' '), w -> length(w)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("charsum"),
        F.expr("size(filter(split(text, ' '), w -> w rlike '[a-z]'))")
        .cast("long")
        .alias("n_alpha"),
        F.expr(_SPARK_W_FOLD).alias("score_sum"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
    )
    ranked = sig.withColumn(
        "rn", F.row_number().over(W.partitionBy("digest").orderBy("doc_id"))
    )
    keep = (
        (F.col("rn") == 1)
        & F.col("n_tok").between(50, 100000)
        & F.col("charsum").between(3 * F.col("n_tok"), 10 * F.col("n_tok"))
        & (5 * F.col("n_alpha") > 4 * F.col("n_tok"))
        & (F.col("n_stop") >= 2)
        & (F.col("score_sum") > 0)
    )
    pred = F.when(F.col("n_stop") * 10 > F.col("n_tok"), "en").otherwise("other")
    return (
        ranked.select(
            "source",
            pred.alias("pred_lang"),
            keep.cast("int").alias("keep"),
            "n_tok",
        )
        .groupBy("source", "pred_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_tok")).cast("long").alias("kept_tokens"),
        )
        .orderBy("source", "pred_lang", "n_docs", "n_kept", "kept_tokens")
    )


__all__ = ["REG", "duck_str_hash"]


# ------------------------------------------------------ t_budget_select
_BUDGET_FRAC = 0.3  # keep the best docs up to 30% of each source's tokens
_Q_STOPS = "'the', 'a'"


@REG.add(
    "t_budget_select",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tok,
               floor((LEAST(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                      + (len(list_distinct(string_split(text, ' '))) * 1.0
                         / len(string_split(text, ' '))) * 0.3
                      + (1.0 - len(list_filter(string_split(text, ' '),
                             t -> t IN ({_Q_STOPS}))) * 1.0
                             / len(string_split(text, ' '))) * 0.2) * 10000
                     + 0.5) / 10000.0 AS quality
        FROM documents
    ),
    tot AS (SELECT source, sum(n_tok) AS total_tok FROM scored GROUP BY source),
    cum AS (
        SELECT s.source, s.n_tok, s.quality, t.total_tok,
               sum(s.n_tok) OVER (PARTITION BY s.source
                                  ORDER BY s.quality DESC, s.doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM scored s JOIN tot t USING (source)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
           min(quality) AS quality_cutoff
    FROM cum
    WHERE cum_tok <= floor({_BUDGET_FRAC} * total_tok)
    GROUP BY source
    ORDER BY source, n_kept, kept_tokens, quality_cutoff
    """,
    doc="Token-budget data selection: keep each source's highest-quality "
    "documents until a token budget (30% of the source's total) is "
    "filled — the data-selection step between scoring and training-set "
    "assembly. Quality is t_quality's exact integer-safe score; the "
    "greedy fill is a per-source running token sum over (quality DESC, "
    "doc_id) with the budget as a cumulative cap, and quality_cutoff "
    "reports the effective per-source threshold. Scale: one scan, one "
    "agg for totals, one source-keyed window. The window is a full "
    "per-source sort, fine while a source's metadata (doc_id, n_tok, "
    "quality — NOT text) fits a spill budget; at extreme per-source "
    "cardinality the production swap is quantile-threshold selection "
    "(approx_percentile of quality weighted by tokens at the budget "
    "point, then a plain filter — the e_quantiles_approx pattern), "
    "trading exact budget adherence for a sort-free plan.",
)
def t_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    raw_quality = (
        F.least(F.size(toks) / 100.0, F.lit(1.0)) * 0.5
        + (F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)) * 0.3
        + (1.0 - F.size(F.filter(toks, lambda t: t.isin("the", "a"))) * 1.0
           / F.size(toks)) * 0.2
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        (F.floor(raw_quality * 10000 + F.lit(0.5)) / 10000.0).alias("quality"),
    )
    tot = scored.groupBy("source").agg(F.sum("n_tok").alias("total_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.join(tot, "source").withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.filter(F.col("cum_tok") <= F.floor(F.lit(_BUDGET_FRAC) * F.col("total_tok")))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
            F.min("quality").alias("quality_cutoff"),
        )
        .orderBy("source", "n_kept", "kept_tokens", "quality_cutoff")
    )


# ----------------------------------------------- e_zorder_part
@REG.add(
    "e_zorder_part",
    """
    SELECT event_id, x, y
    FROM (
        SELECT event_id,
               user_id % 256 AS x,
               CAST(floor(value / 2.0) AS BIGINT) AS y
        FROM events
    )
    WHERE x BETWEEN 8 AND 47 AND y BETWEEN 8 AND 39
    ORDER BY event_id, x, y
    """,
    doc="Partitioned z-bucket layout end-to-end (the VERDICT-r4 answer "
    "to manifest pruning's driver file list): events quantized and "
    "written partitionBy(coarse z-bucket), then a query-box read whose "
    "bucket IN-list is O(n_buckets) driver arithmetic and prunes "
    "DIRECTORIES at file-listing time (PartitionFilters; law in "
    "tests/test_layout_sketch.py). Output must equal the plain "
    "filtered scan the oracle runs. Box widened to x >= 8 in round 9: "
    "sf0.001 has only 15 users, so the old x >= 16 box was structurally "
    "empty there and the non-empty-at-every-scale smoke bar failed.",
)
def e_zorder_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from ..operators.layout import (
        read_pruned_partitioned,
        write_zordered_partitioned,
    )

    ev = load_table(spark, sf_dir, "events")
    quant = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("x"),
        F.floor(F.col("value") / 2.0).cast("long").alias("y"),
    )
    # deterministic per-input path: re-runs overwrite instead of leaking
    path = os.path.join(
        SCRATCH_ROOT,
        f"zpart_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    write_zordered_partitioned(quant, path, "x", "y", n_buckets=64, bits=8)
    return (
        read_pruned_partitioned(
            spark, path, "x", "y", (8, 47), (8, 39), n_buckets=64, bits=8
        )
        .select("event_id", "x", "y")
        .orderBy("event_id", "x", "y")
    )
