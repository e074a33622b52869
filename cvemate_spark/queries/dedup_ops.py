"""Dedup query surface: MinHash+LSH, SimHash, n-gram Jaccard (Phase 4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup
from ..tables import load_table
from .base import Registry

REG = Registry()


@REG.add(
    "dedup_minhash",
    dedup.minhash_pairs_oracle(jaccard_threshold=0.3),
    doc="MinHash+LSH near-dup pairs (12 hashes, 4 bands x 3 rows) verified by "
    "exact Jaccard >= 0.3. Candidate generation is an equi-join on band "
    "signatures — no cross join anywhere.",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_pairs(docs, jaccard_threshold=0.3).orderBy(
        "d1", "d2", "jaccard"
    )


@REG.add(
    "dedup_minhash_highrecall",
    dedup.minhash_pairs_oracle(jaccard_threshold=0.3, n_bands=6),
    doc="MinHash+LSH at the HIGH-RECALL banding layout: the same 12 "
    "minhashes laid out as 6 bands x 2 rows instead of 4 x 3 — the "
    "LSH S-curve dial. At jaccard 0.4 collision probability rises "
    "from 1-(1-0.4^3)^4 ~ 0.23 to 1-(1-0.4^2)^6 ~ 0.65 (measured "
    "against planted truth in DUPBENCH.json) at the cost of more "
    "candidate volume; the exact-Jaccard verify and threshold are "
    "identical, so output differences are purely recall.",
)
def dedup_minhash_highrecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_pairs(docs, jaccard_threshold=0.3, n_bands=6).orderBy(
        "d1", "d2", "jaccard"
    )


@REG.add(
    "dedup_simhash",
    dedup.simhash_pairs_oracle(max_hamming=1),
    doc="SimHash near-dup pairs: 32-bit bit-vote signatures, 8-bit chunk "
    "banding, hamming <= 1 verify via bit_count(xor).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=1).orderBy("d1", "d2", "hamming")


@REG.add(
    "dedup_simhash_wide",
    dedup.simhash_pairs_oracle(max_hamming=2, bits=60, chunks=6),
    doc="The banding-growth contract's second-decade setting, oracle-"
    "proven: 60-bit simhash (every md5-prefix hash bit votes), 6 "
    "chunks, C(6,2)=15 chunk-pair bands of 20-bit keys = 1,048,576 "
    "buckets — 16x the 32-bit layout's bucket space, so candidate "
    "occupancy stays near-linear for another corpus decade (measured "
    "in BENCH_sf10.json). Same pigeonhole guarantee (hamming <= 2 "
    "leaves >= 4 intact chunks), same exact bit_count(xor) verify.",
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=2, bits=60, chunks=6).orderBy(
        "d1", "d2", "hamming"
    )


@REG.add(
    "dedup_simhash_shingle",
    dedup.simhash_pairs_oracle(max_hamming=2, bits=60, chunks=4, features="shingle"),
    doc="SimHash over SHINGLE features (Manku et al.'s production "
    "feature choice) at the second-decade contract layout: 60-bit "
    "signature, 4 chunks of 15 bits, C(4,2)=6 pair bands of 30-bit "
    "keys = 2^30 buckets. The round-4 scale finding (SCALE.md): "
    "unigram simhash CONCENTRATES on homogeneous corpora (population-"
    "biased bits -> 308k band collisions at 5k docs, 2.3% verify "
    "precision) and no df weighting can fix it when presence-df is "
    "saturated; shingle features give near-uniform signatures (1.8k "
    "collisions, 99.4% precision, recall 166 vs 151 of 256 truth "
    "pairs) and make bucket growth the working lever: the 2^30-bucket "
    "layout holds the uniform birthday floor below the true-pair mass "
    "through 500k docs (BENCH_sf10.json).",
)
def dedup_simhash_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, max_hamming=2, bits=60, chunks=4, features="shingle"
    ).orderBy("d1", "d2", "hamming")


@REG.add(
    "dedup_components",
    dedup.dedup_components_oracle(dedup.simhash_pairs_oracle(max_hamming=2)),
    doc="Duplicate clustering: connected components over simhash "
    "near-dup pairs (hamming <= 2). Up to LOCAL_FINISH_ARCS arcs the edge "
    "set is collected once (Arrow) and labeled by union-find on the "
    "driver; larger graphs run large-star/small-star rounds (Kiveris et "
    "al. 2014) until they shrink under that bound or reach an edge-set "
    "fixpoint. The component id is min(doc_id) = the canonical survivor. "
    "Oracle is an exact recursive-CTE transitive closure, so a hash "
    "match also proves the labels converged.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=2)
    return dedup.dedup_components(pairs).orderBy("doc_id", "component")


@REG.add(
    "dedup_incremental",
    dedup.minhash_pairs_incremental_oracle(batch_mod=10, jaccard_threshold=0.3),
    doc="Incremental MinHash dedup: an arriving batch (doc_id % 10 == 0) "
    "band-joined against the corpus index (the rest) — the steady-state "
    "100 TB shape where the corpus signatures are a persisted write-time "
    "index and per-batch cost is O(|batch| + matches), never corpus x "
    "corpus recompute.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_pairs_incremental(
        docs, batch_mod=10, jaccard_threshold=0.3
    ).orderBy("batch_doc", "index_doc", "jaccard")


@REG.add(
    "dedup_canonical",
    dedup.dedup_canonical_oracle(dedup.simhash_pairs_oracle(max_hamming=2)),
    doc="The composed fuzzy-dedup pass a curation pipeline actually runs: "
    "simhash near-dup pairs (hamming <= 2) -> connected components -> "
    "keep the canonical survivor (min doc_id; unpaired docs survive as "
    "singletons) -> per-source corpus shrinkage (docs/tokens kept). The "
    "pair set and component relation are near-dup-density-sized, so the "
    "only corpus-wide work is one scan and the final left join on "
    "doc_id.",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=2)
    comp = dedup.dedup_components(pairs)
    kept = F.coalesce(F.col("component"), F.col("doc_id")) == F.col("doc_id")
    n_tok = F.size(F.split("text", " "))
    return (
        docs.join(comp, "doc_id", "left")
        .select("source", kept.alias("kept"), n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source", "n_docs", "n_kept", "kept_tokens")
    )


@REG.add(
    "dedup_canonical_shingle",
    dedup.dedup_canonical_oracle(
        dedup.simhash_pairs_oracle(max_hamming=2, bits=60, chunks=4, features="shingle")
    ),
    doc="The composed fuzzy-dedup pass at the CONTRACT layout: "
    "shingle-feature 60-bit simhash pairs (hamming <= 2, 2^30-bucket "
    "pair banding — the concentration-proof second-decade setting) -> "
    "connected components -> canonical survivor -> per-source corpus "
    "shrinkage. Same composition as dedup_canonical, but the pair "
    "stage is the one that stays near-linear at corpus scale "
    "(BENCH_sf10.json); the recursive-CTE oracle proves the "
    "propagation converged on the shingle pair relation too.",
)
def dedup_canonical_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(
        docs, max_hamming=2, bits=60, chunks=4, features="shingle"
    )
    comp = dedup.dedup_components(pairs)
    kept = F.coalesce(F.col("component"), F.col("doc_id")) == F.col("doc_id")
    n_tok = F.size(F.split("text", " "))
    return (
        docs.join(comp, "doc_id", "left")
        .select("source", kept.alias("kept"), n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source", "n_docs", "n_kept", "kept_tokens")
    )


NGRAM_DF_CAP = 200  # hot-shingle document-frequency cap (see dedup.py)


@REG.add(
    "dedup_ngram_jaccard",
    dedup.ngram_jaccard_pairs_oracle(threshold=0.3, df_cap=NGRAM_DF_CAP),
    doc="Exact 3-gram Jaccard over co-occurring pairs (join on shingle), "
    "threshold 0.3, hot shingles (document frequency > 200) excluded "
    "from the candidate join so one stop-phrase can't go quadratic — "
    "the verify-side ground truth for the LSH variants.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, df_cap=NGRAM_DF_CAP
    ).orderBy("d1", "d2", "jaccard")


@REG.add(
    "dedup_prefix",
    dedup.prefix_filter_pairs_oracle(num=3, den=10),
    doc="Exact Jaccard >= 0.3 via PREFIX FILTERING (Chaudhuri et al. "
    "ICDE'06 / Bayardo et al. WWW'07): shingles globally ordered "
    "rare-first; each doc joins only on its length-derived prefix, "
    "and the theorem guarantees every qualifying pair shares a "
    "prefix shingle — LOSSLESS candidate pruning (the df_cap "
    "heuristic in dedup_ngram_jaccard trades recall; this trades "
    "nothing). Verify is exact integer cross-multiplication against "
    "the rational threshold. Law: equals the uncapped shared-shingle "
    "join exactly (tests/test_dedup_properties.py). Scale: hot "
    "shingles never enter the candidate join unless a doc is almost "
    "entirely hot — the stop-phrase quadratic dies without a recall "
    "trade.",
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(docs, num=3, den=10).orderBy(
        "d1", "d2", "jaccard"
    )


@REG.add(
    "dedup_prefix_neardup",
    dedup.prefix_filter_pairs_oracle(num=4, den=5),
    doc="The prefix-filter join in its STRONG-PRUNING regime: exact "
    "Jaccard >= 0.8, the near-duplicate threshold production dedup "
    "actually runs. At t=0.8 the prefix keeps only ~20% of each "
    "doc's shingles (p = sz - ceil(0.8*sz) + 1), so candidate volume "
    "collapses while recall stays exactly 1.0 by the theorem — this "
    "is where prefix filtering beats both the df_cap heuristic "
    "(recall loss) and MinHash-LSH (probabilistic recall) outright. "
    "Same operator, same integer cross-mult verify "
    "(operators/dedup.py::prefix_filter_pairs).",
)
def dedup_prefix_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(docs, num=4, den=5).orderBy(
        "d1", "d2", "jaccard"
    )


SPAN_K = 8  # window length (tokens) for repeated-substring detection


@REG.add(
    "dedup_substring",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i:i + {SPAN_K} - 1], ' ')) AS wh
        FROM toks, UNNEST(range(1, len(t) - {SPAN_K} + 2)) AS r(i)
        WHERE len(t) >= {SPAN_K}
    ),
    cnt AS (SELECT wh, count(*) AS c FROM wins GROUP BY wh),
    dup AS (SELECT doc_id, pos FROM wins JOIN cnt USING (wh) WHERE c >= 2),
    isl AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup
    ),
    runs AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY 1, 2),
    per AS (SELECT doc_id, count(*) AS n_win FROM wins GROUP BY doc_id),
    agg AS (
        SELECT doc_id, CAST(sum(run) AS BIGINT) AS dup_win, max(run) AS mx
        FROM runs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_win, 0) AS BIGINT) AS n_win,
           CAST(coalesce(a.dup_win, 0) AS BIGINT) AS dup_win,
           CAST(CASE WHEN a.mx IS NULL THEN 0
                     ELSE a.mx + {SPAN_K} - 1 END AS BIGINT) AS max_span,
           CAST(CASE WHEN coalesce(a.dup_win, 0) * 5 <= coalesce(p.n_win, 0)
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM documents d
    LEFT JOIN per p USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Repeated-substring exposure per document (the position-level "
    "form of 'Deduplicating Training Data Makes Language Models "
    "Better', Lee et al. 2022): every overlapping 8-token window is "
    "hashed, windows whose hash occurs >= 2 times corpus-wide mark "
    "their position as duplicated, and consecutive duplicated "
    "positions merge into spans (gaps-and-islands) whose longest run "
    "bounds the longest verbatim repeated substring. Emits per-doc "
    "window/duplicate counts, max repeated-span length (tokens), and "
    "a keep flag at the 20% duplicated-position budget — all integer "
    "arithmetic. One corpus-wide hash-count shuffle (map-side "
    "partial) + one doc_id-keyed window; the window hash relation is "
    "joined back unhinted so AQE sizes it (never a per-doc "
    "broadcast). At 100 TB the count relation prunes to c >= 2 hashes "
    "BEFORE the join-back (a semi-join on the tiny duplicated "
    "minority), keeping the join input corpus-linear.",
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    wins = (
        toks.filter(F.size("t") >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t) - {SPAN_K} + 1),"
                    f" i -> md5(concat_ws(' ', slice(t, i, {SPAN_K}))))"
                )
            ).alias("p0", "wh"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "wh")
    )
    cnt = wins.groupBy("wh").agg(F.count("*").alias("c"))
    dup = (
        wins.join(cnt.filter(F.col("c") >= 2), "wh")
        .select("doc_id", "pos")
    )
    isl = dup.select(
        "doc_id",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    runs = isl.groupBy("doc_id", "grp").agg(F.count("*").alias("run"))
    per = wins.groupBy("doc_id").agg(F.count("*").alias("n_win"))
    agg = runs.groupBy("doc_id").agg(
        F.sum("run").cast("long").alias("dup_win"), F.max("run").alias("mx")
    )
    n_win = F.coalesce(F.col("n_win"), F.lit(0)).cast("long")
    dup_win = F.coalesce(F.col("dup_win"), F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            n_win.alias("n_win"),
            dup_win.alias("dup_win"),
            F.when(F.col("mx").isNull(), F.lit(0).cast("long"))
            .otherwise((F.col("mx") + SPAN_K - 1).cast("long"))
            .alias("max_span"),
            (dup_win * 5 <= n_win).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )

# ------------------------------------------------- dedup_eval
EVAL_THRESHOLD = 0.3


def _dedup_eval_oracle() -> str:
    from ..operators.dedup import (
        MINHASH_SEEDS,
        PRIME,
        _duck_shingles_cte,
        band_signature_exprs,
    )
    from ..functions.text import duck_str_hash

    mh_cols = ", ".join(
        f"min((CAST({a} AS BIGINT) * (h % {PRIME}) + {b}) % {PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, {expr} AS sig FROM sigs"
        for band, expr in enumerate(band_signature_exprs("duck"))
    )
    t = EVAL_THRESHOLD
    return f"""
    WITH {_duck_shingles_cte()},
    hashed AS (SELECT doc_id, {duck_str_hash("shingle")} AS h FROM shingles),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
    banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT co.d1, co.d2 FROM co
        JOIN sizes sa ON sa.doc_id = co.d1
        JOIN sizes sb ON sb.doc_id = co.d2
        WHERE co.c * 1.0 / (sa.n + sb.n - co.c) >= {t}
    ),
    joined AS (
        SELECT coalesce(t.d1, c.d1) AS d1,
               t.d1 IS NOT NULL AS in_truth,
               c.d1 IS NOT NULL AS in_cand
        FROM truth t
        FULL OUTER JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
    )
    SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
           CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(floor(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                      * 10000.0
                      / sum(CASE WHEN in_truth THEN 1 ELSE 0 END))
                AS BIGINT) AS recall_bp
    FROM joined
    """


@REG.add(
    "dedup_eval",
    _dedup_eval_oracle(),
    doc="Banding-quality evaluation: the LSH candidate set (pre-"
    "verification) scored against exact ground truth (all shingle-"
    "co-occurring pairs with true Jaccard >= 0.3) — TP / candidate / "
    "truth counts and recall in integer basis points. This is how a "
    "100-TB dedup TUNES its band/row configuration: run the eval on "
    "a sample partition, read recall, adjust bands — measured, not "
    "guessed. The ground-truth join is the exhaustive co-occurrence "
    "pass (eval-on-sample economics; the production dedup itself "
    "never runs it), and the eval output is one row.",
)
def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import doc_shingles, lsh_candidates, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    shingles = doc_shingles(docs).persist()
    cand = lsh_candidates(minhash_signatures(shingles))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("c"))
    )
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("_n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("_n2"))
    truth = (
        co.join(n1, "d1")
        .join(n2, "d2")
        .filter(
            F.col("c") * 1.0 / (F.col("_n1") + F.col("_n2") - F.col("c"))
            >= EVAL_THRESHOLD
        )
        .select("d1", "d2")
    )
    j = truth.withColumn("in_truth", F.lit(True)).alias("t").join(
        cand.withColumn("in_cand", F.lit(True)).alias("c"),
        (F.col("t.d1") == F.col("c.d1")) & (F.col("t.d2") == F.col("c.d2")),
        "full_outer",
    )
    in_truth = F.col("t.in_truth").isNotNull()
    in_cand = F.col("c.in_cand").isNotNull()
    tp = F.sum(F.when(in_truth & in_cand, 1).otherwise(0))
    n_truth = F.sum(F.when(in_truth, 1).otherwise(0))
    return j.agg(
        n_truth.cast("long").alias("n_truth"),
        F.sum(F.when(in_cand, 1).otherwise(0)).cast("long").alias("n_cand"),
        tp.cast("long").alias("tp"),
        F.floor(tp * 10000.0 / n_truth).cast("long").alias("recall_bp"),
    )



@REG.add(
    "dedup_cluster_sizes",
    """
    WITH RECURSIVE pairs AS ("""
    + dedup.simhash_pairs_oracle(max_hamming=2)
    + """),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(node, comp) AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp
        FROM edges e JOIN reach r ON e.b = r.node
    ),
    comps AS (
        SELECT node AS doc_id, min(comp) AS component
        FROM reach GROUP BY node
    ),
    sizes AS (
        SELECT component, count(*) AS csize FROM comps GROUP BY component
    )
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize - 1) AS BIGINT) AS removable_docs
    FROM sizes
    GROUP BY csize
    ORDER BY cluster_size, n_clusters, removable_docs
    """,
    doc="Duplicate-cluster size distribution (the report read after "
    "any dedup run): connected components over simhash pairs, then "
    "cluster-size histogram with the removable-doc count (size-1 per "
    "cluster, keeping one canonical survivor each). Two tiny "
    "aggregations over the component relation — the corpus-sized "
    "work is the components computation already proven by "
    "dedup_components; the oracle recomputes the exact transitive "
    "closure so the histogram also re-verifies convergence.",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=2)
    comps = dedup.dedup_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(F.col("csize") - 1).cast("long").alias("removable_docs"),
        )
        .select(
            F.col("csize").cast("long").alias("cluster_size"),
            "n_clusters",
            "removable_docs",
        )
        .orderBy("cluster_size", "n_clusters", "removable_docs")
    )


@REG.add(
    "dedup_canonical_best",
    dedup.dedup_canonical_best_oracle(dedup.simhash_pairs_oracle(max_hamming=2)),
    doc="Quality-aware canonical selection: same simhash near-dup "
    "components as dedup_canonical, but the survivor is the BEST doc "
    "per cluster (longest by n_chars, ties to min doc_id) — the "
    "selection production pipelines actually run, since the min-id "
    "copy may be the truncated one. The argmax window runs over the "
    "near-dup-density-sized component relation ONLY (never a "
    "corpus-wide window — singletons survive without entering it); "
    "the law suite pins kept_chars >= the min-id selection's. One "
    "corpus scan + two doc_id-keyed left joins downstream.",
)
def dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=2)
    comp = dedup.dedup_components(pairs)
    # argmax(n_chars, -doc_id) per component — over paired docs only
    from pyspark.sql.window import Window as W

    paired = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        paired.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.lit(True).alias("is_best"))
    )
    kept = F.col("component").isNull() | F.col("is_best").isNotNull()
    n_tok = F.size(F.split("text", " "))
    return (
        docs.join(comp, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "source", kept.alias("kept"), n_tok.alias("n_tok"), "n_chars"
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source", "n_docs", "n_kept", "kept_tokens")
    )
