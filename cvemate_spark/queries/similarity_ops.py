"""Similarity-search query surface: Q26 + ANN/near-dup extensions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fsio
from ..operators.similarity import (
    brute_topk,
    duck_cosine,
    ivf_topk,
    ivf_topk_batch,
    neardup_pairs_topk,
    semdedup,
)
from ..tables import load_table
from .base import SCRATCH_ROOT, Registry

REG = Registry()

_COS_Q = duck_cosine("e.embedding", "q.q_emb")


@REG.add(
    "q26",
    f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id
    FROM embeddings e, q
    ORDER BY {_COS_Q} DESC, e.vec_id ASC
    LIMIT 10
    """,
    tags=("id-set",),
    doc="Similarity search: cosine top-10 against the vec_id=0 query vector; "
    "broadcast query, fold-based dot product, TakeOrderedAndProject top-k.",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_topk(emb, query_vec_id=0, k=10)


@REG.add(
    "ann_ivf",
    f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    cents AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine("e.embedding", "c.cent_emb")} DESC,
                                c.cent_id ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT cent_id FROM cents c, q
        ORDER BY {duck_cosine("c.cent_emb", "q.q_emb")} DESC, cent_id ASC
        LIMIT 3
    )
    SELECT e.vec_id
    FROM assigned e JOIN probed p ON e.cent_id = p.cent_id, q
    ORDER BY {_COS_Q} DESC, e.vec_id ASC
    LIMIT 10
    """,
    tags=("id-set",),
    doc="IVF-style ANN: deterministic coarse centroids (vec_id % 50 == 0), "
    "probe the 3 nearest cells, top-10 within — the partition-pruning scale "
    "path for similarity search.",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_vec_id=0, k=10, centroid_stride=50, n_probe=3)


@REG.add(
    "ann_ivf_batch",
    f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine("e.embedding", "c.cent_emb")} DESC,
                                c.cent_id ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 8
    ),
    probes AS (
        SELECT q_id, cent_id, q_emb FROM (
            SELECT q.q_id, c.cent_id, q.q_emb,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {duck_cosine("c.cent_emb", "q.q_emb")} DESC,
                                c.cent_id ASC) AS rn
            FROM queries q, cents c
        ) WHERE rn <= 3
    ),
    scored AS (
        SELECT p.q_id, a.vec_id,
               row_number() OVER (
                   PARTITION BY p.q_id
                   ORDER BY {duck_cosine("a.embedding", "p.q_emb")} DESC,
                            a.vec_id ASC) AS rn
        FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
    )
    SELECT q_id, vec_id FROM scored WHERE rn <= 10
    ORDER BY q_id, vec_id
    """,
    tags=("id-set",),
    doc="Batched IVF ANN: 8 query vectors as a relation — per-query probe "
    "cells via window rank over (queries × broadcast centroids), one "
    "equi-join on cent_id against the assigned vectors, per-query top-10 "
    "via window. Adding queries grows one join's small side instead of "
    "re-running the plan per query (the single-query shape's limit).",
)
def ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_batch(
        emb, n_queries=8, k=10, centroid_stride=50, n_probe=3
    ).orderBy("q_id", "vec_id")


@REG.add(
    "ann_ivf_serve",
    # the index-served batch answers EXACTLY what the in-memory batch
    # answers (the amortization law) — same oracle as ann_ivf_batch
    REG.specs["ann_ivf_batch"].oracle,
    tags=("id-set",),
    doc="Amortized batch serve over the PERSISTED IVF index (VERDICT r5 "
    "item 4): the cell-partitioned index is built once into a "
    "content-keyed scratch dir (write_ivf_index — Hive layout, one "
    "file per cell), then 8 queries are answered in ONE "
    "partition-pruned plan (ivf_topk_indexed_batch): the scan's "
    "PartitionFilters is the literal union of all probe cells, "
    "listing + scan amortize across the batch, files read ≤ "
    "|Q|·n_probe. Oracle = the in-memory batched IVF (ann_ivf_batch's "
    "SQL verbatim) — serving from the layout must change NOTHING "
    "about the answer. Pruning law on the physical plan in "
    "tests/test_layout_sketch.py.",
)
def ann_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from ..operators.similarity import ivf_topk_indexed_batch, write_ivf_index

    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}:ivfserve-s50".encode()
    ).hexdigest()[:12]
    path = f"{SCRATCH_ROOT}/ivfserve_{key}"
    fsio.build_once(
        path,
        lambda: write_ivf_index(
            load_table(spark, sf_dir, "embeddings"), path, centroid_stride=50
        ),
    )
    return ivf_topk_indexed_batch(
        spark, path, n_queries=8, k=10, n_probe=3
    ).orderBy("q_id", "vec_id")


@REG.add(
    "ann_ivf_trained",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
        SELECT q.q_id, e.vec_id, {_COS_Q} AS cos
        FROM embeddings e, q
    ),
    topk AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos DESC, vec_id ASC) AS rn
            FROM scored)
        WHERE rn <= 10
    )
    SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(count(*) / count(DISTINCT q_id) AS BIGINT) AS k,
           CAST(sum(vec_id) AS BIGINT) AS brute_ids_sum,
           TRUE AS recall_ok
    FROM topk
    """,
    doc="Trained-IVF recall gate (the e_hll measure-the-approximation "
    "pattern): spherical k-means centroids (kmeans_fit, 8 cells, 3 "
    "Lloyd iterations) serve the batched IVF top-10 for 8 queries, and "
    "the query itself compares them to the exact brute-force top-10 — "
    "recall_ok gates aggregate recall@10 >= 0.6 permille-exact, while "
    "brute_ids_sum pins the exact truth against the DuckDB oracle. A "
    "quantizer regression flips the boolean and fails the hash gate. "
    "Measured recall@10: 0.96 (sf0.001), 0.90 (sf0.01), 0.95 (sf0.1) "
    "— the 0.6 gate is a regression floor, not the expected value.",
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import trained_ivf_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return trained_ivf_recall(
        emb, n_queries=8, k=10, k_cents=8, iters=3, n_probe=3,
        min_recall_pm=600,
    )


@REG.add(
    "emb_neardup",
    f"""
    SELECT d1, d2 FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               {duck_cosine("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    ORDER BY cos DESC, d1 ASC, d2 ASC
    LIMIT 20
    """,
    tags=("id-set",),
    doc="Embedding-cosine near-dup: top-20 most-similar distinct pairs "
    "(brute-force at test scale; LSH-bucketed variant is the 100 TB path).",
)
def emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_topk(emb, k=20)


@REG.add(
    "emb_neardup_semdedup",
    f"""
    SELECT d1, d2 FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               {duck_cosine("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    ORDER BY cos DESC, d1 ASC, d2 ASC
    LIMIT 20
    """,
    tags=("id-set",),
    doc="The SAME top-20 near-dup question as emb_neardup, answered by "
    "the cluster-bounded route: SemDeDup coarse cells partition the "
    "corpus, within-cell GEMM establishes an exact lower bound L on "
    "the k-th cosine, the spherical triangle inequality prunes every "
    "cell PAIR whose angular upper bound cannot beat L, and only the "
    "surviving cell pairs run the cross GEMM — provably EXACT (the "
    "oracle is the brute-force answer), sub-quadratic on the "
    "near-dup-heavy corpora SemDeDup targets (L ~ 1 prunes almost all "
    "cell pairs), degrading to blocked all-pairs on weak-similarity "
    "data like this testdata. The 100 TB user gets a gated exact path "
    "whose work adapts to duplicate density, not just a quadratic-by-"
    "contract warning on emb_neardup.",
)
def emb_neardup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import neardup_pairs_topk_semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_topk_semdedup(emb, k=20, centroid_stride=50)


def _ann_lsh_oracle() -> str:
    from ..operators.similarity import lsh_signature_expr

    sig = lsh_signature_expr("duck")
    cos = duck_cosine("s.embedding", "pr.q_emb")
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig FROM embeddings
    ),
    q AS (SELECT sig AS qsig, embedding AS q_emb FROM sigs WHERE vec_id = 0),
    probes AS (
        SELECT DISTINCT xor(qsig, m) AS p, q_emb
        FROM q, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS t(m)
    )
    SELECT s.vec_id
    FROM sigs s JOIN probes pr ON s.sig = pr.p
    ORDER BY {cos} DESC, s.vec_id ASC
    LIMIT 10
    """


def _ann_lsh_batch_oracle() -> str:
    from ..operators.similarity import lsh_signature_expr

    sig = lsh_signature_expr("duck")
    cos = duck_cosine("s.embedding", "pr.q_emb")
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(8)])
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, sig AS qsig, embedding AS q_emb
        FROM sigs WHERE vec_id < 8
    ),
    probes AS (
        SELECT q_id, q_emb, xor(qsig, m) AS p
        FROM q, unnest([{masks}]) AS t(m)
    ),
    scored AS (
        SELECT pr.q_id, s.vec_id,
               row_number() OVER (
                   PARTITION BY pr.q_id
                   ORDER BY {cos} DESC, s.vec_id ASC) AS rn
        FROM sigs s JOIN probes pr ON s.sig = pr.p
    )
    SELECT q_id, vec_id FROM scored WHERE rn <= 10
    ORDER BY q_id, vec_id
    """


@REG.add(
    "ann_lsh_batch",
    _ann_lsh_batch_oracle(),
    tags=("id-set",),
    doc="Batched multi-probe LSH ANN: 8 query vectors as a relation, each "
    "probing its bucket + 8 Hamming-1 neighbors; data joined once on the "
    "bit-packed signature, per-query top-10 via window. The batch form of "
    "ann_lsh — adding queries grows the probe relation, never re-runs the "
    "plan.",
)
def ann_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk_batch(emb, n_queries=8, k=10).orderBy("q_id", "vec_id")


@REG.add(
    "ann_lsh",
    _ann_lsh_oracle(),
    tags=("id-set",),
    doc="Signed-random-projection LSH ANN: bit-packed sign signature over "
    "8 shared hyperplanes, multi-probe (bucket + Hamming-1 neighbors), "
    "cosine top-10 within probed buckets. The bucketed alternative to "
    "ann_ivf: the signature becomes a write-time partition key at scale.",
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, query_vec_id=0, k=10)


@REG.add(
    "emb_quantize",
    """
    WITH q AS (
        SELECT vec_id,
               list_aggregate(embedding, 'min') AS lo,
               list_aggregate(embedding, 'max') AS hi,
               embedding
        FROM embeddings
    ),
    codes AS (
        SELECT vec_id,
               list_transform(embedding, x -> CASE
                   WHEN hi = lo THEN 0
                   ELSE LEAST(CAST(floor((CAST(x AS DOUBLE) - CAST(lo AS DOUBLE))
                        * 255.0 / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)))
                        AS BIGINT), 255) END) AS code,
               lo, hi
        FROM q
    )
    SELECT vec_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), code),
                            (s, v) -> s + v) AS BIGINT) AS qsum,
           CAST(list_aggregate(code, 'max') AS BIGINT) AS qmax,
           floor((CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) / 255.0 * 10000
                 + 0.5) / 10000.0 AS step
    FROM codes
    ORDER BY vec_id, qsum, qmax, step
    """,
    doc="Embedding scalar quantization (int8-style): per-vector min/max "
    "affine mapping of each float to a 0..255 code — the 4x storage "
    "compression a 100 TB vector corpus applies before ANN indexing "
    "(codes + two floats reconstruct the vector to within step/2). "
    "Entirely row-local lambda folds in the scan projection: no "
    "shuffle, no UDF, whole-stage codegen. The gate checks the exact "
    "integer code sum/max per vector (bit-identical across engines "
    "because both compute the same IEEE double affine then floor) and "
    "the portable-rounded quantization step.",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lo = F.array_min("embedding")
    hi = F.array_max("embedding")
    code = F.transform(
        F.col("embedding"),
        lambda x: F.when(hi == lo, F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor(
                    (x.cast("double") - lo.cast("double"))
                    * 255.0
                    / (hi.cast("double") - lo.cast("double"))
                ),
                F.lit(255).cast("long"),
            )
        ),
    )
    with_codes = emb.select(
        "vec_id",
        code.alias("code"),
        lo.cast("double").alias("lo"),
        hi.cast("double").alias("hi"),
    )
    qsum = F.aggregate("code", F.lit(0).cast("long"), lambda s, v: s + v)
    step = F.floor((F.col("hi") - F.col("lo")) / 255.0 * 10000 + F.lit(0.5)) / 10000.0
    return with_codes.select(
        "vec_id",
        qsum.alias("qsum"),
        F.array_max("code").cast("long").alias("qmax"),
        step.alias("step"),
    ).orderBy("vec_id", "qsum", "qmax", "step")


@REG.add(
    "emb_semdedup",
    f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine("e.embedding", "c.cent_emb")} DESC,
                                c.cent_id ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS rep_cand, b.vec_id AS dup_id
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE {duck_cosine("a.embedding", "b.embedding")} >= 0.30
    )
    SELECT dup_id, CAST(min(rep_cand) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_sim
    FROM pairs GROUP BY dup_id ORDER BY dup_id
    """,
    tags=("id-set",),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): coarse-cluster "
    "the embeddings, then drop every vector with a tau-similar LOWER-id "
    "cluster-mate (keep = min id). Pairwise cosine only ever runs WITHIN "
    "a cluster — one cent_id-keyed shuffle, never a corpus cross-join; "
    "the cosine fold is sequence-identical in both engines so the "
    "threshold compare is bit-exact.",
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, tau=0.30, centroid_stride=50)


@REG.add(
    "emb_semdedup_gemm",
    f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_cosine("e.embedding", "c.cent_emb")} DESC,
                                c.cent_id ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS rep_cand, b.vec_id AS dup_id
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE {duck_cosine("a.embedding", "b.embedding")} >= 0.30
    )
    SELECT dup_id, CAST(min(rep_cand) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_sim
    FROM pairs GROUP BY dup_id ORDER BY dup_id
    """,
    tags=("id-set",),
    doc="emb_semdedup served from the Arrow-GEMM cell assignment "
    "(assign_cells_gemm): SAME oracle as emb_semdedup — the hash gate "
    "proves the BLAS argmax assigns every vector to the same cell as "
    "the sequential-fold window rank (ulp ties excepted, none in this "
    "data). The GEMM assignment is what makes cells-proportional-to-n "
    "affordable (no n*C crossJoin materialization), which in turn "
    "holds SemDeDup's within-cell pair count LINEAR in corpus size — "
    "the second-decade contract measured in BENCH_sf10.json.",
)
def emb_semdedup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semdedup_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_gemm(emb, tau=0.30, centroid_stride=50)

# ------------------------------------------------------ emb_pq
PQ_M = 4  # subspaces (64-dim embedding -> 4 x 16)
PQ_DSUB = 16
PQ_K = 8  # codewords per subspace
PQ_QVEC = 42  # query vector id

_DUCK_SUBDIST = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, {dsub} + 1), i ->
                    (CAST({a}[{o} + i] AS DOUBLE) - CAST({b}[{o} + i] AS DOUBLE))
                  * (CAST({a}[{o} + i] AS DOUBLE) - CAST({b}[{o} + i] AS DOUBLE)))),
                (acc, x) -> acc + x)"""


def _duck_subdist(a: str, b: str) -> str:
    return _DUCK_SUBDIST.format(a=a, b=b, o="(ss.s * " + str(PQ_DSUB) + ")", dsub=PQ_DSUB)


@REG.add(
    "emb_pq",
    f"""
    WITH ss AS (SELECT unnest(range({PQ_M})) AS s),
    cb AS (SELECT vec_id AS j, embedding AS cvec FROM embeddings
           WHERE vec_id < {PQ_K}),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {PQ_QVEC}),
    dist AS (
        SELECT e.vec_id, ss.s, cb.j, {_duck_subdist("e.embedding", "cb.cvec")} AS d
        FROM embeddings e, ss, cb
    ),
    enc AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, j) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT ss.s, cb.j,
               CAST(floor({_duck_subdist("q.qvec", "cb.cvec")} * 1000000 + 0.5)
                    AS BIGINT) AS qd_int
        FROM q, ss, cb
    )
    SELECT e.vec_id,
           CAST(max(CASE WHEN e.s = 0 THEN e.code END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN e.s = 1 THEN e.code END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN e.s = 2 THEN e.code END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN e.s = 3 THEN e.code END) AS BIGINT) AS c3,
           CAST(sum(qd.qd_int) AS BIGINT) AS qdist
    FROM enc e JOIN qd ON e.s = qd.s AND e.code = qd.j
    GROUP BY e.vec_id
    ORDER BY qdist, vec_id
    LIMIT 20
    """,
    tags=("ann",),
    doc="Product quantization (Jegou et al. 2011): 64-dim embeddings "
    "split into 4 x 16-dim subspaces, each subvector encoded as the "
    "nearest of 8 codewords (deterministically seeded from the first "
    "8 vectors; the production path trains them with kmeans_fit per "
    "subspace), then asymmetric-distance (ADC) top-20 for a query: "
    "per-subspace query->codeword distance tables are integer-"
    "quantized so the 4-way ADC sum is order-independent and exact "
    "across engines. Plan: the codebook is a 32-row broadcast both "
    "times it is used; encode is one broadcast join + a partial-agg'd "
    "(vec_id, s) argmin — codes are 4 bytes per vector vs 256 floats, "
    "the 64x compression that makes a 100 TB vector corpus scannable; "
    "the ADC scan never touches raw vectors (codes + the tiny "
    "distance-table join), ending in TakeOrderedAndProject.",
)
def emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    subs = F.posexplode(
        F.array(
            *[
                F.slice("embedding", s * PQ_DSUB + 1, PQ_DSUB)
                for s in range(PQ_M)
            ]
        )
    ).alias("s", "sub")

    data = emb.select("vec_id", subs)
    cb = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("j"), subs.alias("s", "csub")
    )
    qsub = emb.filter(F.col("vec_id") == PQ_QVEC).select(subs.alias("s", "qsub"))

    def sqdist(a: str, b: str):
        diff2 = F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)

    enc = (
        data.join(F.broadcast(cb), "s")
        .select("vec_id", "s", "j", sqdist("sub", "csub").alias("d"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("code"))
    )
    qd = (
        qsub.join(F.broadcast(cb), "s")
        .select(
            F.col("s").alias("qs"),
            F.col("j").alias("qj"),
            F.floor(sqdist("qsub", "csub") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("qd_int"),
        )
    )
    code_col = [
        F.max(F.when(F.col("s") == i, F.col("code")))
        .cast("long")
        .alias(f"c{i}")
        for i in range(PQ_M)
    ]
    return (
        enc.join(
            F.broadcast(qd),
            (F.col("s") == F.col("qs")) & (F.col("code") == F.col("qj")),
        )
        .groupBy("vec_id")
        .agg(*code_col, F.sum("qd_int").cast("long").alias("qdist"))
        .orderBy("qdist", "vec_id")
        .limit(20)
    )

# ------------------------------------------------------ ann_pq_batch
PQ_QMOD = 100  # batch queries: every vec_id % 100 == 42
PQ_BATCH_K = 5


@REG.add(
    "ann_pq_batch",
    f"""
    WITH ss AS (SELECT unnest(range({PQ_M})) AS s),
    cb AS (SELECT vec_id AS j, embedding AS cvec FROM embeddings
           WHERE vec_id < {PQ_K}),
    q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
          WHERE vec_id % {PQ_QMOD} = {PQ_QVEC}),
    dist AS (
        SELECT e.vec_id, ss.s, cb.j, {_duck_subdist("e.embedding", "cb.cvec")} AS d
        FROM embeddings e, ss, cb
    ),
    enc AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, j) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT q.qid, ss.s, cb.j,
               CAST(floor({_duck_subdist("q.qvec", "cb.cvec")} * 1000000 + 0.5)
                    AS BIGINT) AS qd_int
        FROM q, ss, cb
    ),
    adc AS (
        SELECT qd.qid, e.vec_id, CAST(sum(qd.qd_int) AS BIGINT) AS qdist
        FROM enc e JOIN qd ON e.s = qd.s AND e.code = qd.j
        GROUP BY qd.qid, e.vec_id
    )
    SELECT qid, vec_id, qdist FROM (
        SELECT qid, vec_id, qdist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY qdist, vec_id) AS rn
        FROM adc
    ) WHERE rn <= {PQ_BATCH_K}
    ORDER BY qid, qdist, vec_id
    """,
    tags=("ann",),
    doc="Batch PQ serving: every query in the batch (vec_id % 100 == "
    "42) gets ADC top-5 in ONE pass — the query batch joins the "
    "shared code relation as a (|Q| x 32)-row quantized distance "
    "table, never as per-query scans (the q26-style crossJoin "
    "per query would re-read the corpus |Q| times). Codes are "
    "encoded once (same broadcast + partial-agg argmin as emb_pq); "
    "the per-query top-k is a qid-partitioned window over the "
    "already-aggregated ADC relation. This is the production ANN "
    "shape at 100 TB: amortize the code scan across the whole query "
    "batch.",
)
def ann_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    subs = F.posexplode(
        F.array(
            *[
                F.slice("embedding", s * PQ_DSUB + 1, PQ_DSUB)
                for s in range(PQ_M)
            ]
        )
    ).alias("s", "sub")

    data = emb.select("vec_id", subs)
    cb = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("j"), subs.alias("s", "csub")
    )
    qsub = emb.filter(F.col("vec_id") % PQ_QMOD == PQ_QVEC).select(
        F.col("vec_id").alias("qid"), subs.alias("s", "qsub")
    )

    def sqdist(a: str, b: str):
        diff2 = F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)

    enc = (
        data.join(F.broadcast(cb), "s")
        .select("vec_id", "s", "j", sqdist("sub", "csub").alias("d"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("code"))
    )
    qd = (
        qsub.join(F.broadcast(cb), "s")
        .select(
            "qid",
            F.col("s").alias("qs"),
            F.col("j").alias("qj"),
            F.floor(sqdist("qsub", "csub") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("qd_int"),
        )
    )
    adc = (
        enc.join(
            F.broadcast(qd),
            (F.col("s") == F.col("qs")) & (F.col("code") == F.col("qj")),
        )
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd_int").cast("long").alias("qdist"))
    )
    topk = W.partitionBy("qid").orderBy("qdist", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(topk))
        .filter(F.col("rn") <= PQ_BATCH_K)
        .select("qid", "vec_id", "qdist")
        .orderBy("qid", "qdist", "vec_id")
    )

