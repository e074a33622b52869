"""Operator known-answer tests: dedup, similarity, multimodal, scoring."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from cvemate_spark.functions.scoring import priority_column
from cvemate_spark.operators import multimodal
from cvemate_spark.operators.dedup import (
    doc_shingles,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cvemate_spark.operators.similarity import brute_topk, neardup_pairs_topk


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # one-token edit = high jaccard
    other = "completely different words about spark engines and parquet files here"
    return spark.createDataFrame(
        [Row(doc_id=0, text=base), Row(doc_id=1, text=near), Row(doc_id=2, text=other)]
    )


def test_shingles_count_and_dedup(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="a b a b a b")])
    got = {r["shingle"] for r in doc_shingles(docs).collect()}
    assert got == {"a b a", "b a b"}  # 4 raw shingles, 2 distinct
    short = spark.createDataFrame([Row(doc_id=0, text="a b")])
    assert doc_shingles(short).count() == 0  # no 3-gram possible


def test_minhash_finds_near_duplicate(spark):
    pairs = {(r["d1"], r["d2"]) for r in minhash_pairs(_docs(spark), 0.3).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_exact(spark):
    rows = {(r["d1"], r["d2"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), 0.3).collect()}
    assert set(rows) == {(0, 1)}
    # 13 tokens -> 11 shingles each; one-token tail edit changes 1 shingle
    # (and doc 0 has a repeated-'the' dedup quirk: check bounds instead)
    assert 0.6 < rows[(0, 1)] < 1.0


def test_ngram_jaccard_hot_shingle_cap(spark):
    """df_cap drops ubiquitous shingles from the candidate join: docs
    whose only overlap is the hot shingle stop pairing, and intersection
    counts for surviving pairs exclude it (jaccard = lower bound)."""
    hot = "common boiler plate"  # one shared 3-gram across ALL docs
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{hot} alpha beta gamma delta"),
            Row(doc_id=1, text=f"{hot} alpha beta gamma epsilon"),
            Row(doc_id=2, text=f"{hot} zeta eta theta iota"),
        ]
    )
    uncapped = {
        (r["d1"], r["d2"]) for r in ngram_jaccard_pairs(docs, 0.01).collect()
    }
    assert (0, 2) in uncapped and (1, 2) in uncapped  # hot-only overlap pairs
    capped = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, 0.01, df_cap=2).collect()
    }
    # pairs that co-occurred ONLY through the hot shingle are gone
    assert (0, 2) not in capped and (1, 2) not in capped
    # the genuinely-similar pair survives on its rare shingles
    assert (0, 1) in capped
    # a shingle at exactly df_cap docs is kept (cap is strict >)
    still = ngram_jaccard_pairs(docs, 0.01, df_cap=3).collect()
    assert {(r["d1"], r["d2"]) for r in still} == uncapped


def test_dedup_components_multi_hop(spark):
    """Min-label propagation must cross multiple hops (a 4-node path
    needs 3 rounds) and keep disjoint clusters apart; the component id
    is the cluster's min doc_id (the canonical survivor)."""
    from cvemate_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [Row(d1=1, d2=2), Row(d1=2, d2=3), Row(d1=3, d2=4), Row(d1=10, d2=11)]
    )
    got = {r["doc_id"]: r["component"] for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


# (pairs, DDL, expected rows) — the expected rows are what the
# large-star/small-star rounds return: a pair with a NULL endpoint
# connects nothing (not even through the NULL), and a self-pair alone
# does not make its node a member.
COMPONENT_EDGE_INPUTS = {
    "null_endpoints": (
        [(1, None), (None, 2), (3, 4), (None, None), (4, None), (5, None), (5, 6)],
        "d1 bigint, d2 bigint",
        [(3, 3), (4, 3), (5, 5), (6, 5)],
    ),
    "null_bridge": ([(1, None), (None, 2)], "d1 bigint, d2 bigint", []),
    "self_pairs": (
        [(1, 1), (2, 3), (3, 3), (7, 7)], "d1 bigint, d2 bigint", [(2, 2), (3, 2)]
    ),
    "string_ids": (
        [("b", "a"), ("c", "b"), ("Z", "é"), ("x", None)],
        "d1 string, d2 string",
        [("Z", "Z"), ("a", "a"), ("b", "a"), ("c", "a"), ("é", "Z")],
    ),
    "int_vs_long": ([(1, 2), (3, 2)], "d1 int, d2 bigint", [(1, 1), (2, 1), (3, 1)]),
    "int_ids": ([(1, 2), (3, 2)], "d1 int, d2 int", [(1, 1), (2, 1), (3, 1)]),
}


@pytest.mark.parametrize("case", sorted(COMPONENT_EDGE_INPUTS))
def test_dedup_components_local_finish_edge_inputs(spark, monkeypatch, case):
    """The driver-side finish returns exactly the rows and column types
    of the distributed rounds on edge inputs; ids never become floats."""
    from cvemate_spark.operators import dedup

    rows, ddl, expected = COMPONENT_EDGE_INPUTS[case]
    pairs = spark.createDataFrame(rows, ddl)
    local = dedup.dedup_components(pairs)
    assert local.isLocal(), "small graph did not take the local finish"
    # -1: rounds that shrink the graph to nothing stay distributed too
    monkeypatch.setattr(dedup, "LOCAL_FINISH_ARCS", -1)
    dist = dedup.dedup_components(pairs)
    assert not dist.isLocal()
    assert local.schema == dist.schema
    got = sorted(map(tuple, local.collect()))
    assert got == sorted(map(tuple, dist.collect())) == expected
    id_type = str if "string" in ddl else int
    assert all(type(v) is id_type for r in got for v in r)


def test_dedup_components_float_ids_stay_distributed(spark):
    """Python orders float ids unlike Spark (NaN), so they never take
    the driver-side finish."""
    from cvemate_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame([(2.5, 1.5), (2.5, 3.5)], "d1 double, d2 double")
    out = dedup_components(pairs)
    assert not out.isLocal()
    assert sorted(map(tuple, out.collect())) == [(1.5, 1.5), (2.5, 1.5), (3.5, 1.5)]


def test_simhash_identical_docs_collide(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta gamma delta"),
            Row(doc_id=1, text="alpha beta gamma delta"),
            Row(doc_id=2, text="epsilon zeta eta theta iota kappa"),
        ]
    )
    got = {(r["d1"], r["d2"]): r["hamming"] for r in simhash_pairs(docs, 1).collect()}
    assert got.get((0, 1)) == 0


def test_brute_topk_self_first(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
            Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),
        ]
    )
    got = [r["vec_id"] for r in brute_topk(emb, 0, k=3).collect()]
    assert got == [0, 1, 2]


def test_neardup_pairs_blocked_kernel(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i == j) for j in range(4)]) for i in range(4)]
        + [Row(vec_id=9, embedding=[1.0, 0.01, 0.0, 0.0])]
    )
    got = {tuple(r) for r in neardup_pairs_topk(emb, k=1).collect()}
    assert got == {(0, 9)}  # the only similar pair wins


def test_neardup_semdedup_exact_and_prunes_clustered_data(spark):
    """The angular-bound pruner: exact on ANY data, and on a
    near-dup-heavy clustered corpus (the SemDeDup regime) it must
    actually PRUNE most cell pairs — the sub-quadratic claim."""
    import math

    from cvemate_spark.operators import similarity
    from cvemate_spark.operators.similarity import neardup_pairs_topk_semdedup

    # 4 tight clusters on orthogonal axes, 25 vectors each, ids
    # interleaved so stride-10 centroids land in every cluster; each
    # member is its axis plus a tiny deterministic wobble.
    rows = []
    for i in range(100):
        axis = i % 4
        base = [0.0] * 8
        base[axis] = 1.0
        base[4 + axis] = 0.001 * ((i * 7) % 13)  # wobble, cluster-internal
        rows.append(Row(vec_id=i, embedding=base))
    emb = spark.createDataFrame(rows)
    got = [tuple(r) for r in neardup_pairs_topk_semdedup(emb, k=10, centroid_stride=10).collect()]

    # brute-force truth with the same portable ordering
    data = {r.vec_id: r.embedding for r in rows}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)); nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)
    pairs = sorted(
        ((cos(data[i], data[j]), i, j) for i in data for j in data if i < j),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:10]
    assert got == [(i, j) for _, i, j in pairs]

    stats = similarity.LAST_PRUNE_STATS
    assert stats is not None and stats["cell_pairs"] > 0
    # orthogonal tight clusters: cross-cluster cell pairs are provably
    # unable to beat the within-cluster k-th cosine (~1.0), so the
    # pruner must drop well over half of all cell pairs
    assert stats["survivors"] <= stats["cell_pairs"] // 2, stats


def test_neardup_semdedup_multibatch_composition_neutral(spark, monkeypatch):
    """Batch packing must be composition-neutral: shrinking the
    work/row budgets until the cross stage splits into MANY batches
    (the sf1+ shape — tile ordering, per-batch cell shipping, per-pair
    cuts across batch boundaries) cannot change the exact result."""
    from cvemate_spark.operators import similarity
    from cvemate_spark.operators.similarity import neardup_pairs_topk_semdedup

    # weak-similarity corpus (nothing prunes -> every cell pair runs)
    rows = []
    for i in range(80):
        base = [((i * 31 + j * 17) % 19) / 19.0 - 0.5 for j in range(6)]
        rows.append(Row(vec_id=i, embedding=base))
    emb = spark.createDataFrame(rows)

    big = [tuple(r) for r in
           neardup_pairs_topk_semdedup(emb, k=8, centroid_stride=10).collect()]
    one_batch = similarity.LAST_PRUNE_STATS["batches"]

    monkeypatch.setattr(similarity, "SEMDEDUP_WORK_BUDGET", 200)
    monkeypatch.setattr(similarity, "SEMDEDUP_ROW_BUDGET", 24)
    small = [tuple(r) for r in
             neardup_pairs_topk_semdedup(emb, k=8, centroid_stride=10).collect()]
    many_batches = similarity.LAST_PRUNE_STATS["batches"]

    assert small == big
    assert many_batches > max(4, one_batch), (one_batch, many_batches)


def test_multimodal_stub_boundary(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="hello")])
    media = multimodal.attach_payload(docs)
    meta = multimodal.extract_metadata(media).first()
    assert meta["n_bytes"] == 5
    assert meta["digest"] == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes")  # stub is explicit
    feats = multimodal.extract_features(media, codec=multimodal.fake_decode).first()
    assert feats["n_frames"] == 1 + 5 % 8


def _tiny_bmp(width: int, height: int) -> bytes:
    """Minimal valid-enough BMP: 14-byte file header + 40-byte
    BITMAPINFOHEADER with the given dimensions, no pixel data."""
    import struct

    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 0, 0, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 14 + 40)
    return header + info


def test_real_codec_injection_bmp(spark):
    """The codec boundary carries a REAL decoder end to end: BMP header
    parse (no image library) through the same mapInPandas feature/
    resize/frame stages the fake codec exercises."""
    rows = [
        Row(doc_id=0, media_type="image/bmp", payload=_tiny_bmp(640, 480)),
        Row(doc_id=1, media_type="image/bmp", payload=_tiny_bmp(100, -200)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {
        r.doc_id: r
        for r in multimodal.extract_features(media, codec=multimodal.bmp_codec).collect()
    }
    assert (feats[0].width, feats[0].height) == (640, 480)
    # negative height = top-down row order; dimensions still positive
    assert (feats[1].width, feats[1].height) == (100, 200)
    rs = {r.doc_id: r for r in multimodal.resize_plan(
        media, max_dim=256, codec=multimodal.bmp_codec).collect()}
    assert (rs[0].rs_w, rs[0].rs_h) == (256, 192)  # letterbox fit
    with pytest.raises(Exception, match="BMP"):
        multimodal.bmp_codec(b"PNG... not a bmp")


def test_priority_ladder_rungs(spark):
    rows = [
        Row(id=1, kev=True, base=1.0, epss=0.0),   # kev -> 1
        Row(id=2, kev=False, base=7.0, epss=0.5),  # both -> 1
        Row(id=3, kev=False, base=7.0, epss=0.1),  # base only -> 2
        Row(id=4, kev=False, base=3.0, epss=0.5),  # epss only -> 3
        Row(id=5, kev=False, base=3.0, epss=0.1),  # neither -> 4
        Row(id=6, kev=False, base=None, epss=None),  # nulls -> 4
    ]
    df = spark.createDataFrame(rows).withColumn(
        "p", priority_column(F.col("kev"), F.col("base"), F.col("epss"))
    )
    got = {r["id"]: r["p"] for r in df.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 4}


def test_minhash_short_doc_edge_cases(spark):
    """Docs with < 3 tokens have an EMPTY shingle set: they must produce
    no signature row (minhash_signatures_local filters them — an
    all-null signature would band every short doc into one hot ''
    bucket) and never appear in pairs, while normal docs still match.
    Guards the row-local signature path's empty-array semantics."""
    from pyspark.sql import Row

    base = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=base + " today"),
            Row(doc_id=1, text=base + " tonight"),
            Row(doc_id=2, text="a b"),      # 2 tokens -> no shingles
            Row(doc_id=3, text=""),          # empty text
            Row(doc_id=4, text="single"),
        ]
    )
    from cvemate_spark.operators.dedup import (
        doc_shingle_arrays,
        minhash_pairs,
        minhash_signatures_local,
    )

    sigs = minhash_signatures_local(doc_shingle_arrays(docs))
    assert {r["doc_id"] for r in sigs.collect()} == {0, 1}
    pairs = {(r["d1"], r["d2"]) for r in minhash_pairs(docs, 0.3).collect()}
    assert pairs == {(0, 1)}


def test_pfold_cos_is_strict_left_fold():
    """_pfold_cos's cumsum must equal the oracle's SEQUENTIAL left fold
    bit-for-bit — the premise that let the near-dup operators drop
    their rescore joins (optimization r13). Covers mixed magnitudes
    (catches any pairwise-summation shortcut) and the float32->float64
    widen the stored vectors go through."""
    import numpy as np

    from cvemate_spark.operators.similarity import _pfold_cos

    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 257))
        scale = 10.0 ** float(rng.integers(-8, 9))
        a32 = (rng.standard_normal(n) * scale).astype(np.float32)
        b32 = (rng.standard_normal(n) * scale).astype(np.float32)
        a = a32.astype(np.float64)[None, :]
        b = b32.astype(np.float64)[None, :]
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a32.tolist(), b32.tolist()):
            dot = dot + float(x) * float(y)
            na = na + float(x) * float(x)
            nb = nb + float(y) * float(y)
        import math

        want = dot / (math.sqrt(na) * math.sqrt(nb))
        got = float(_pfold_cos(a, b)[0])
        assert got == want, (n, got, want, got - want)
