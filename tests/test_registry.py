"""Driver-gate registry invariants + the builder-hash re-entry policy.

The external verify driver records correctness rows for at most 50
queries (sorted-name truncation, observed in round 1). These tests pin
the curation contract: the exposed set is exactly 50, every entry has
a hard DuckDB oracle, and the SURVEY-critical families — the streaming
ladder, the text/dedup/similarity surface, the composed pipelines —
are all inside the gate.

Rotation policy (VERDICT.md round 3, item 1): hard driver evidence
accumulates across rounds; any query whose builder source — transitive
over the cvemate_spark modules it imports — diffs since its last pin
must re-enter DRIVER_GATE. The pin is tests/gate_hashes.json,
refreshed once per round by tools/update_gate_hashes.py (which re-runs
the local oracle on changed-but-ungated queries before accepting).
"""

from __future__ import annotations

import sys
from pathlib import Path

from cvemate_spark.queries import DRIVER_GATE, REGISTRY, driver_specs

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Round-6 endgame: the gate holds EXACTLY the 50 registry queries that
# had never been driver-proven through r05 (cumulative evidence 117/167
# in CORRECTNESS_r01..r05). The critical-families invariant therefore
# generalizes: every SURVEY-critical capability and every src_* reader
# must be in the gate OR carry recorded driver-green evidence in a
# committed CORRECTNESS_r*.json — the accumulative policy stated above,
# now checked against the artifacts instead of a hand-maintained
# rotation ledger.
CRITICAL = (
    # streaming ladder
    "s1_tumbling", "s2_sliding", "s3_merge_replay", "s4_session",
    "s5_stateful", "s6_dedup", "s7_join", "s8_static_join",
    "s9_outer_join", "s10_tws", "s11_recovery",
    # text / curation
    "t_quality", "t_tokens", "t_winnow", "t_chunk",
    "curate_pipeline", "curate_pipeline2",
    # dedup surface
    "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_shingle",
    "dedup_components", "dedup_incremental", "dedup_canonical_shingle",
    # similarity / ANN
    "q26", "ann_ivf_batch", "ann_lsh", "ann_ivf_trained",
    "emb_neardup", "emb_neardup_semdedup", "emb_semdedup",
    "emb_semdedup_gemm", "emb_pq", "ann_pq_batch", "bm25_topk",
    # composed pipelines + multimodal codecs
    "cve_pipeline", "cve_pipeline_fold", "mm_png", "mm_wav", "mm_y4m",
    "mm_phash", "mm_quarantine",
    # engine surface
    "e_merge_delete", "e_scd2", "e_pivot", "e_unpivot", "e_gapfill",
    "e_ivm_join", "e_table_diff", "e_hll_merge", "g_pagerank",
    "e_zorder_part", "e_time_travel", "q29", "q30", "q33",
)


def _driver_proven() -> set[str]:
    """Names with a recorded green row in any committed CORRECTNESS
    artifact (rows+schema+hash for oracled queries; the driver's
    rows-only record for oracle-less ones)."""
    import json

    repo = Path(__file__).resolve().parent.parent
    proven: set[str] = set()
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        data = json.loads(f.read_text())
        for name, row in data.get("queries", data).items():
            if isinstance(row, dict) and row.get("rows_match"):
                proven.add(name)
    return proven


def test_driver_gate_is_exactly_50_hard_oracled_queries():
    specs = driver_specs()
    assert len(specs) == 50
    # every gated query carries a hard DuckDB oracle, except the
    # documented no-SQL-form set (zlib compression has no oracle SQL;
    # the driver records its weaker rows-only check and the judge sees
    # which — SURVEY §5)
    NO_SQL_FORM = {"t_compress"}
    no_oracle = [n for n, s in specs.items() if s.oracle is None]
    assert set(no_oracle) <= NO_SQL_FORM, (
        f"driver-gated but rows-only (and not in the documented "
        f"no-SQL-form set): {sorted(set(no_oracle) - NO_SQL_FORM)}"
    )


# Queries born THIS round, after the round's 50 gate slots were already
# committed: local-oracle-green now, first in line for the next
# rotation. Keep this list short and rotate it out. (The 28 round-6/7
# additions that accumulated here all entered the round-8 gate.)
# (the 16 round-8/9 additions that accumulated here all entered the
# round-10 gate — this set holds only queries born in round 10 after
# the r10 gate froze)
NEW_THIS_ROUND: set[str] = {  # born r13 post-gate-freeze
    "s22_wap_replay",
}


def test_driver_gate_covers_critical_families():
    names = set(DRIVER_GATE) | _driver_proven() | NEW_THIS_ROUND
    src_all = {n for n in REGISTRY.specs if n.startswith("src_")}
    unaccounted = sorted(src_all - names)
    assert not unaccounted, (
        f"src readers neither gated nor driver-proven: {unaccounted}"
    )
    missing = [n for n in CRITICAL if n not in names]
    assert not missing, (
        f"critical capabilities neither gated nor driver-proven: {missing}"
    )


def test_local_registry_is_a_superset():
    # everything driver-gated is also locally checkable; the extras
    # (redundant shapes) remain registered for tools/check.py
    assert set(DRIVER_GATE) <= set(REGISTRY.specs)
    assert len(REGISTRY.specs) > len(DRIVER_GATE)


def test_changed_builders_reenter_gate():
    """The re-entry policy pin: a query whose builder-source hash
    (transitive import closure — see tools/gate_hash.py) changed since
    its last pin MUST be in DRIVER_GATE this round. Remedy on failure:
    rotate the named queries into DRIVER_GATE, or — only if their
    semantics are provably untouched — refresh the pin with
    `python tools/update_gate_hashes.py --round N` (which re-proves
    them against the local oracle before accepting)."""
    from tools.gate_hash import current_hashes, recorded

    rec = recorded().get("hashes", {})
    assert rec, "tests/gate_hashes.json missing — run tools/update_gate_hashes.py"
    cur = current_hashes()
    gate = set(DRIVER_GATE)
    violating = sorted(
        n for n, h in cur.items() if n in rec and rec[n] != h and n not in gate
    )
    assert not violating, (
        f"builders changed since last driver-green pin but NOT re-gated: "
        f"{violating} — rotate them into DRIVER_GATE or refresh via "
        f"tools/update_gate_hashes.py after a green local oracle run"
    )


def test_gate_hash_closure_and_sensitivity():
    """The policy hash must (a) include operator/function modules the
    builder's module transitively imports — the round-3 q06 incident
    was an operator-layer rewrite invisible to the query module — and
    (b) change when the oracle text changes."""
    import dataclasses

    from tools.gate_hash import _closure, builder_hash

    deps = _closure("cvemate_spark.queries.dedup_ops")
    assert "cvemate_spark.operators.dedup" in deps
    assert "cvemate_spark.functions.text" in deps  # transitive (via dedup)
    # `from pkg import submodule` must hash the SUBMODULE, not just the
    # package __init__ (round-6 blind spot: `from ..streaming import
    # jobs` behind an empty streaming/__init__.py hid jobs.py edits)
    deps = _closure("cvemate_spark.queries.streaming_ops")
    assert "cvemate_spark.streaming.jobs" in deps
    # PARENTHESIZED multi-line imports must enter the closure (round-11
    # blind spot: `from ..operators.merge_versioned import (\n...` in
    # 28 query-module sites never hashed the versioned layer, so the
    # re-entry tripwire was blind to merge_versioned edits)
    deps = _closure("cvemate_spark.queries.engine_ops")
    assert "cvemate_spark.operators.merge_versioned" in deps
    assert "cvemate_spark.operators.catalog" in deps
    # the closure records only the BASE module for the multi-line form
    # (continuation names are symbols): assert the tree keeps it that
    # way — no `from pkg import (submodule, ...)` anywhere
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "cvemate_spark"
    offenders = []
    pat = re.compile(r"^\s*from\s+(\.+[\w.]*|cvemate_spark[\w.]*)"
                     r"\s+import\s+\($", re.MULTILINE)
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        for m in pat.finditer(src):
            # names on following lines until ')': none may be a module
            tail = src[m.end():src.index(")", m.end())]
            for name in tail.replace("\n", " ").split(","):
                name = name.strip()
                if not name:
                    continue
                base = m.group(1)
                if base.startswith("."):
                    # resolve relative to this file's package
                    rel = py.relative_to(pkg.parent).with_suffix("")
                    parts = str(rel).split("/")[:-1]
                    up = len(base) - len(base.lstrip(".")) - 1
                    root = parts[: len(parts) - up] if up else parts
                    dotted = ".".join(
                        root + ([base.lstrip(".")] if base.lstrip(".") else [])
                    )
                else:
                    dotted = base
                cand = pkg.parent / (
                    dotted.replace(".", "/") + "/" + name + ".py"
                )
                if cand.is_file():
                    offenders.append(f"{py}: from {base} import ({name}")
    assert not offenders, (
        "parenthesized `from pkg import (submodule...)` found — the "
        f"closure would miss these modules: {offenders}"
    )

    spec = REGISTRY.specs["q11"]
    h = builder_hash(spec)
    assert h == builder_hash(spec)  # deterministic
    tweaked = dataclasses.replace(spec, oracle=spec.oracle + " ")
    assert builder_hash(tweaked) != h
