"""Assembled query registry: the declared query surface (SURVEY §2.12)."""

from __future__ import annotations

from .base import QuerySpec, Registry


def build_registry() -> Registry:
    from . import cvemate_ops, relational

    reg = Registry()
    reg.merge(relational.REG)
    reg.merge(cvemate_ops.REG)
    for mod_name in (
        "text_ops",
        "similarity_ops",
        "dedup_ops",
        "streaming_ops",
        "multimodal_ops",
        "retrieval_ops",
        "curation_ops",
        "engine_ops",
        "source_ops",
        "pipeline_ops",
        "graph_ops",
        "stats_ops",
    ):
        try:
            mod = __import__(f"{__name__}.{mod_name}", fromlist=["REG"])
        except ImportError:
            continue
        reg.merge(mod.REG)
    return reg


REGISTRY = build_registry()

# ------------------------------------------------------------------
# The driver-gate set: the external verify driver records correctness
# rows for at most 50 queries (sorted name order, truncated — round-1
# CORRECTNESS held exactly sorted(registry)[:50], orphaning every
# src_* reader, s3/s4/s5 streaming and t_* text gate). This curated
# set is EXACTLY the 50 queries `__spark_entry__.queries()` exposes,
# chosen so every SURVEY §2 operator has a driver-green proving query;
# everything else in REGISTRY stays locally gated via tools/check.py
# (same oracle machinery, full registry).
#
# Rotation policy (VERDICT.md round 3, item 1): hard driver evidence
# accumulates ACROSS rounds; a rotated-out query stays registered and
# locally gated (tools/check.py), keeping its recorded driver-green
# evidence. ANY query whose builder source (transitive, per
# tests/test_registry.py::test_changed_builders_reenter_gate) diffs
# since its last driver-green round re-enters the gate next round —
# the pin lives in tests/gate_hashes.json, refreshed per round by
# tools/update_gate_hashes.py (which requires a green local oracle
# run before accepting a refresh).
#
# Round-4 rotation: twelve r03-driver-green stable provers
# (src_redhat, src_epss, src_kev, src_metasploit, src_debian, q10,
# q15, q18, q28, e_variant, e_funnel, t_langid) ceded slots to the
# never-driver-proven set the round-3 verdict named: q06 (rewritten
# after leaving the gate — its agg-below-join form re-proves here),
# q34 (INTERSECT/EXCEPT ALL bag semantics), ann_ivf_trained (the
# measured k-means recall gate), e_dq_audit, e_cms, e_rolling,
# t_perplexity, t_dsir, dedup_paragraph, dedup_substring, src_pyds
# (the Spark 4 Python DataSource, batch half), and the new
# emb_neardup_semdedup (sub-quadratic cluster-bounded route for the
# emb_neardup question).
#
# Round-4 late rotation: the round's OWN findings deserve driver
# proof this round, not next — five unchanged-since-r03-green stable
# provers (cwe_enrich, q21, src_delta_log, mm_features, mm_frames;
# none of their builders diffed in round 4, so the re-entry policy
# permits their exit) ceded slots to the five capabilities round 4
# built and measured: dedup_simhash_shingle (the concentration fix),
# dedup_simhash_wide (bucket-growth layout), dedup_minhash_highrecall
# (the measured S-curve dial), emb_semdedup_gemm (BLAS cell
# assignment, hash-identical to the fold path), s9_outer_join (the
# outer stream-stream watermark-horizon contract). Each entrant is
# oracle-green at sf0.001/0.01 (+ sf0.1 and the dup0.1 stress corpus
# where applicable).
#
# Round-5 rotation (VERDICT r4 item 1: retire the never-driver-proven
# tranche; target cumulative >= 110): twenty r4-green stable provers
# ceded slots (src_nvd, src_cveorg_zip, src_exploitdb, src_cwe_xml,
# src_pyds, q05, q06, q19, q31, q32, q34, e_dq_audit, e_cms,
# e_rolling, dedup_paragraph, dedup_substring, dedup_simhash_wide,
# dedup_minhash_highrecall, t_perplexity, t_dsir — exits whose
# builders changed only through this round's advice fixes were
# re-proven by the update_gate_hashes local-oracle pass) to twenty
# entrants: seventeen never-driver-proven registry queries (q29 corr.
# subquery, q30 EXISTS, q33 scalar subquery, e_pivot, e_unpivot,
# e_gapfill, e_ivm_join, e_table_diff, e_hll_merge, g_pagerank,
# t_winnow, t_chunk, emb_pq, ann_pq_batch, dedup_canonical_shingle,
# src_orc, src_cwe_xml_udtf) plus this round's three new
# capabilities: s10_tws (transformWithStateInPandas actually running
# through the protobuf bridge), mm_png (real PNG decode), and
# e_zorder_part (listing-time-pruned partitioned z-bucket layout).
# Late r5 addition: s11_recovery (kill-and-resume checkpoint
# recovery — offset log + state store surviving a restart) enters;
# t_fingerprint (r4-green, text_ops unchanged this round) cedes.
# ------------------------------------------------------------------
DRIVER_GATE: tuple[str, ...] = (
    # ---- Round-13 rotation (VERDICT r12 item 6). The r12 gate went
    # green 50/50 in CORRECTNESS_r12.json. Round 13's semantic edits
    # land in merge_versioned.py (OCC commit-intent admission, the
    # cross-rebucket feed both-endpoints-empty fix) — the versioned/
    # merge/catalog/replay family HOLDS its gate slots. bench.py's
    # headline slot swaps to the angular-bound-pruned near-dup route,
    # which enters the gate per VERDICT r12 item 4. Ceding (unchanged
    # builders, r12-driver-green): q06, q11, g_pagerank, emb_neardup
    # (stays registered as the pruned route's oracle). Entering
    # besides the swap: the longest-unproven changed-closure standing
    # queries retr_rrf, s13_drift, e_quantile_2pass. Every other
    # changed-hash query is re-proven locally by
    # tools/update_gate_hashes.py before its pin refreshes.
    # --- entrant: the headline near-dup swap (VERDICT r12 item 4)
    "emb_neardup_semdedup",
    # --- entrants: longest-unproven changed-closure standing (3)
    "retr_rrf", "s13_drift", "e_quantile_2pass",
    # --- round-12 entrant holds (builder changed again this round)
    "s21_mor_compact",
    # --- entrant: e_packed_scan left the registry with the packed base
    # layout. Its slot goes to the longest-unproven standing query
    # whose builder closure changed with that removal: e_branch_wap,
    # never driver-gated (born after the round-13 gate froze)
    "e_branch_wap",
    # --- re-entries: versioned/merge/catalog family (22)
    "e_manifest_shard",
    "e_merge_concurrent", "e_merge_mor", "s20_mor_replay",
    "e_versioned_rename", "e_versioned_cluster_skip", "e_catalog_feed",
    "e_catalog_txn", "e_merge_scoped_versioned", "e_rebucket_versioned",
    "e_merge_delete", "e_merge_scoped",
    "cve_pipeline_versioned", "cve_pipeline_fold", "cve_pipeline",
    "s3_merge_replay", "s18_versioned_replay",
    "e_change_feed", "e_versioned_evolve",
    "e_versioned_skip", "e_merge_constraint", "e_zorder_part",
    # --- entrant: s17_scoped_replay left the registry with the
    # unversioned bucket table (s18_versioned_replay checks the same
    # convergence law against the same oracle). Its slot goes to the
    # standing query outside the gate whose builder closure changed
    # with that removal (it imports operators/merge.py)
    "e_time_travel",
    # --- re-entries: the headline suite (bench-correlated standing
    # re-entry vehicle) (5)
    "q19", "dedup_minhash", "dedup_exact",
    "curate_pipeline", "ann_lsh",
    # --- re-entries: changed-closure engine surface (6)
    "e_asof", "e_scd2", "e_ivm_join", "curate_pipeline2",
    "e_gapfill", "e_hll_merge",
    # --- optimization-round (r14) entrants: every builder the round
    # RESTRUCTURED re-enters per the changed-builder policy — the
    # whole dedup_components consumer family rides the new
    # large-star/small-star connected-components loop (Kiveris et al.
    # SoCC 2014; guide §2.2/§2.4 — rounds 10→4, jobs 88→51, labels
    # proven identical + sf1 law sweep green). e_change_feed (keyset
    # broadcast + sub-feed memo) and emb_neardup_semdedup (fused
    # phase-1 fetch) also changed semantically-neutral internals and
    # HOLD their existing slots above. Ceding (r13-driver-green in
    # CORRECTNESS_r13.json, relational.py untouched this round;
    # emb_neardup's closure-only hash change is re-proven locally by
    # tools/update_gate_hashes.py): q05, q06, q07, q10, emb_neardup.
    "dedup_components", "dedup_canonical", "dedup_canonical_shingle",
    "dedup_cluster_sizes", "dedup_canonical_best",
    # --- re-entries: the stateful/recovery streaming spine (the
    # riskiest streaming surfaces keep standing driver coverage) (5)
    "s5_stateful", "s10_tws", "s11_recovery", "s12_media", "s14_kmv",
)


def driver_specs() -> dict[str, QuerySpec]:
    """The ≤50 specs the driver gates, validated against the registry."""
    missing = [n for n in DRIVER_GATE if n not in REGISTRY.specs]
    if missing:
        raise KeyError(f"DRIVER_GATE names not in registry: {missing}")
    if len(set(DRIVER_GATE)) != len(DRIVER_GATE) or len(DRIVER_GATE) > 50:
        raise ValueError("DRIVER_GATE must be <= 50 unique names")
    return {n: REGISTRY.specs[n] for n in DRIVER_GATE}


__all__ = [
    "QuerySpec", "Registry", "REGISTRY", "build_registry",
    "DRIVER_GATE", "driver_specs",
]
