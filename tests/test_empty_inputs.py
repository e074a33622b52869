"""Empty-input totality: every core operator family must return an
EMPTY result (never raise) on zero-row inputs.

At 100 TB empty slices are routine — an empty incremental batch, a
predicate that prunes everything, a new tenant's empty partition — and
an operator that throws on them turns a no-op into a pipeline page.
These tests run the batch operator surface over structurally-correct
but empty DataFrames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars int"
    )


@pytest.fixture()
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>, label int")


def test_dedup_family_on_empty(empty_docs):
    from cvemate_spark.operators import dedup

    assert dedup.minhash_pairs(empty_docs).count() == 0
    assert dedup.minhash_pairs_incremental(empty_docs).count() == 0
    assert dedup.simhash_pairs(empty_docs, max_hamming=2).count() == 0
    assert dedup.simhash_pairs(
        empty_docs, max_hamming=2, bits=60, chunks=4, features="shingle"
    ).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs, threshold=0.3).count() == 0
    assert dedup.prefix_filter_pairs(empty_docs).count() == 0
    pairs = dedup.simhash_pairs(empty_docs, max_hamming=2)
    assert dedup.dedup_components(pairs).count() == 0


@pytest.mark.parametrize(
    "rows",
    [[], [(None, None), (1, None)], [(3, 3), (5, 5)]],
    ids=["empty", "all_null", "self_only"],
)
def test_dedup_components_both_finishes_on_empty_graphs(spark, monkeypatch, rows):
    """Inputs with no usable edge (no pairs, only NULL endpoints, only
    self-pairs) give zero rows of the input's id type on the driver-side
    finish and on the distributed rounds alike."""
    from cvemate_spark.operators import dedup

    pairs = spark.createDataFrame(rows, "d1 long, d2 long")
    local = dedup.dedup_components(pairs)
    assert local.isLocal() and local.count() == 0
    # -1: even an empty arc relation goes through the rounds
    monkeypatch.setattr(dedup, "LOCAL_FINISH_ARCS", -1)
    dist = dedup.dedup_components(pairs)
    assert not dist.isLocal() and dist.count() == 0
    assert local.schema == dist.schema


def test_similarity_family_on_empty(empty_emb):
    from cvemate_spark.operators import similarity as sim

    assert sim.brute_topk(empty_emb, 0, k=5).count() == 0
    assert sim.neardup_pairs_topk(empty_emb, k=5).count() == 0
    assert sim.neardup_pairs_topk_semdedup(empty_emb, k=5).count() == 0
    assert sim.semdedup(empty_emb).count() == 0
    assert sim.semdedup_gemm(empty_emb).count() == 0
    assert sim.ivf_topk(empty_emb, 0, k=5).count() == 0
    assert sim.lsh_topk_batch(empty_emb, n_queries=2, k=5).count() == 0


def test_merge_on_empty(spark):
    from cvemate_spark.operators.merge import merge_upsert

    empty = spark.createDataFrame([], "id string, nvd string")
    batch = spark.createDataFrame([Row(id="CVE-1", nvd="x")])
    # empty target <- batch: all inserts
    out = merge_upsert(empty, batch.select("id", F.col("nvd")), key="id")
    assert out.count() == 1
    # target <- empty batch: unchanged rows survive
    out2 = merge_upsert(out.select("id", "nvd"), empty, key="id")
    assert out2.count() == 1
    # empty <- empty
    assert merge_upsert(empty, empty, key="id").count() == 0


def test_classifier_on_empty(spark, empty_docs):
    from cvemate_spark.operators.classifier import N_BUCKETS, predict

    assert predict(empty_docs, [0] * N_BUCKETS).count() == 0


def test_multimodal_codec_stages_on_empty(spark):
    """The round-6 codec stages: an empty media relation must flow
    through decode / quarantine / transcode-shaped mapInPandas stages
    as an empty result with the right schema, never a raise."""
    from cvemate_spark.operators import multimodal as mm

    empty_media = spark.createDataFrame([], mm.MEDIA_SCHEMA)
    feats = mm.extract_features(empty_media, codec=None)
    assert feats.count() == 0
    assert "width" in feats.columns
    quar = mm.safe_decode_features(empty_media)
    assert quar.count() == 0 and "err" in quar.columns
    assert mm.audio_features(empty_media).count() == 0
    assert mm.video_frame_features(empty_media).count() == 0


def test_ivf_indexed_batch_on_empty_corpus(spark, tmp_path, empty_emb):
    """An index written from an empty corpus must serve an external
    query batch as an empty result (no cells to probe), not raise."""
    from cvemate_spark.operators.similarity import (
        ivf_topk_indexed_batch,
        write_ivf_index,
    )

    path = str(tmp_path / "empty_ivf")
    write_ivf_index(empty_emb, path, centroid_stride=50)
    got = ivf_topk_indexed_batch(
        spark, path, k=3, n_probe=2, query_rows=[(0, [0.0] * 64)]
    )
    assert got.count() == 0


def test_kmv_on_empty(spark):
    """Empty hash relations: sketches are empty, estimates come back as
    one row with n_seen=0 and NULL-free zero estimates? No — the honest
    contract: an empty union sketch has no u_k; the estimate relation
    is one row with n_seen=0 and est_union=0.0 (the n_seen<k exact
    branch), never a raise."""
    from cvemate_spark.operators.kmv import (
        bottom_k,
        merge_flags,
        per_group_bottom_k,
        union_intersect_estimate,
    )

    empty_h = spark.createDataFrame([], "h: long")
    assert bottom_k(empty_h, 8).count() == 0
    assert merge_flags(bottom_k(empty_h, 8), bottom_k(empty_h, 8)).count() == 0
    row = union_intersect_estimate(
        bottom_k(empty_h, 8), bottom_k(empty_h, 8), 8
    ).collect()[0]
    assert row.n_seen == 0 and row.n_both == 0
    assert row.est_union == 0.0
    empty_grouped = spark.createDataFrame([], "source string, h long")
    assert per_group_bottom_k(empty_grouped, "source", 8).count() == 0


def test_stats_queries_on_empty_docs(spark, empty_docs, tmp_path):
    """The stats_ops query surface over an EMPTY documents table: the
    bounded-histogram / sketch / sample / fusion shapes must all return
    empty (or empty-consistent single-row) results, never raise."""
    import os

    d = str(tmp_path / "sfempty")
    os.makedirs(d, exist_ok=True)
    empty_docs.write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    from cvemate_spark.queries import REGISTRY

    # drift: no rows -> no bins -> empty or zero-row aggregates
    assert REGISTRY.specs["t_drift_ks"].builder(spark, d).count() == 0
    assert REGISTRY.specs["t_drift_psi"].builder(spark, d).count() == 0
    # sketch: one estimate row with n_seen=0, exact legs zero
    kmv = REGISTRY.specs["e_kmv_intersect"].builder(spark, d).collect()
    assert len(kmv) == 1 and kmv[0].n_seen == 0 and kmv[0].exact_a == 0
    assert REGISTRY.specs["e_kmv_matrix"].builder(spark, d).count() == 0
    # sampling / fusion: empty corpus -> empty sample, empty ranking
    assert REGISTRY.specs["t_sample_weighted"].builder(spark, d).count() == 0
    assert REGISTRY.specs["retr_rrf"].builder(spark, d).count() == 0
    assert REGISTRY.specs["retr_rrf_ivf"].builder(spark, d).count() == 0


def test_late_r7_analytics_on_empty(spark, empty_docs, tmp_path):
    """The late round-7 batch surface over EMPTY tables: quantiles,
    quota sampling, cohort/path/anomaly analytics and the A/B test
    must return empty (or the empty-consistent zero-counter row),
    never raise — an empty day / tenant / slice is routine at scale."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sfempty2")
    os.makedirs(d, exist_ok=True)
    empty_docs.write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        f"{d}/events.parquet",
    )

    from cvemate_spark.queries import REGISTRY

    for name in (
        "e_quantile_2pass",
        "e_quantile_grouped",
        "t_sample_stratified",
        "e_cohort_retention",
        "e_path_transitions",
        "e_anomaly_volume",
    ):
        assert REGISTRY.specs[name].builder(spark, d).count() == 0, name

    ab = REGISTRY.specs["e_ab_test"].builder(spark, d).collect()
    assert len(ab) == 1
    assert ab[0].n_a == 0 and ab[0].n_b == 0
    assert ab[0].z2_c == 0 and ab[0].significant == 0
    assert ab[0].rate_a_bp == 0 and ab[0].rate_b_bp == 0


def test_oracle_spark_agree_on_empty_slices(spark, empty_docs, tmp_path):
    """The DUCKDB ORACLES must mirror the Spark empty-slice shapes —
    an oracle that emits a NULL row where Spark emits zero rows (or
    vice versa) would surface as an opaque gate-hash failure on a
    degenerate slice. Runs both sides on a fully-empty sf dir and
    compares row counts and zero-consistent values."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sfempty3")
    os.makedirs(d, exist_ok=True)
    empty_docs.write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        f"{d}/events.parquet",
    )

    from cvemate_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{d}/{t}.parquet/*.parquet')"
            if os.path.isdir(f"{d}/{t}.parquet")
            else f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{d}/{t}.parquet')"
        )
    for name in (
        "t_drift_ks", "t_drift_psi", "e_kmv_intersect",
        "e_cohort_retention", "e_path_transitions", "e_anomaly_volume",
        "e_ab_test",
    ):
        spec = REGISTRY.specs[name]
        srows = spec.builder(spark, d).collect()
        orows = con.execute(spec.oracle).fetchall()
        assert len(srows) == len(orows), (
            f"{name}: spark={len(srows)} oracle={len(orows)} on empty"
        )
    # the two single-row shapes agree on the zero-consistent values
    kmv = con.execute(REGISTRY.specs["e_kmv_intersect"].oracle).df()
    assert int(kmv.n_both[0]) == 0 and float(kmv.est_inter[0]) == 0.0
    ab = con.execute(REGISTRY.specs["e_ab_test"].oracle).df()
    assert int(ab.z2_c[0]) == 0 and int(ab.significant[0]) == 0
