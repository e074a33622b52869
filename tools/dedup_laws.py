#!/usr/bin/env python3
"""Scalable oracle for the closure-bounded dedup family (VERDICT r8
item 4).

The exact recursive-CTE oracle these queries use at driver scales is
O(sum component_size^2) — a test-scale construct that cannot run on
the derived large corpora, so the sf1/dup-stress sweeps used to SKIP
`dedup_components` / `dedup_cluster_sizes` / `dedup_canonical*`. This
module replaces the closure with an EDGE-LINEAR decomposition that
runs at any scale the engine itself runs at:

  clustering correctness (labels from dedup_components):
    LAW A  edge consistency — no DuckDB-oracle pair crosses two
           labels, every pair endpoint is labeled, labels cover
           exactly the paired nodes, one row per node.
           (=> label classes are UNIONS of true components: the
           propagation never under-merges or drops nodes.)
    LAW B  root minimality — every component id equals min(doc_id)
           of its class (the canonical-survivor contract).
    LAW C  sampled exact closure — for the K largest + K
           hash-sampled components, pull their edges and recompute
           connected components exactly (Python BFS, bounded by the
           sample cap); the sampled classes must match 1:1.
           (=> no over-merge on the sampled classes; A+B are global,
           C is the sampled complement — exactly the "sampled-
           component / per-cluster-law" evidence the verdict asked
           for, and the only part that is not fleet-global.)

  aggregation correctness (what each query derives FROM the
  clustering): the query's own oracle tail runs in DuckDB with the
  law-verified labels substituted for the recursive closure — a
  non-recursive, edge-linear SQL — and must hash-match the Spark
  output exactly.

The pair relation itself keeps its independent oracle coverage via
the dedup_simhash* queries (driver-gated, sf10-proven), so the pairs
SQL here is the same DuckDB generation those gates verify.

Known cost (reviewed, accepted): the verifier recomputes the Spark
clustering per family member and the registry builder recomputes it
once more inside the gated query — only the DuckDB pairs relation is
cached across the family. Caching labels per PAIR_KW config would
roughly halve the sf1 sweep's wall-clock; left as is because this is
an offline verification tool and the duplicate compute is the same
code path the engine ships (no divergence risk), but worth doing if
the sweep cadence rises.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections import deque

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# DuckDB spills the materialized oracle pair table here, capped at this
# share of the disk's free bytes: an oversized pair table then fails in
# seconds with a clear message instead of filling the disk (DuckDB's
# default cap is 90% of the free space, under the cwd)
SPILL_DIR = os.path.join(REPO, ".scratch", "duckdb_spill")
SPILL_SHARE = 0.5
# DuckDB's default memory limit is 80% of the host's RAM. The sf1
# sweep's Python process, which DuckDB runs inside, once reached 8.5 GB
# beside the Spark driver and was killed by the kernel's OOM killer;
# this cap bounds DuckDB's share and makes it spill instead
MEMORY_LIMIT = "3GB"

# pairs-oracle settings per query — MUST mirror the builders in
# cvemate_spark/queries/dedup_ops.py
PAIR_KW: dict[str, dict] = {
    "dedup_components": {"max_hamming": 2},
    "dedup_canonical": {"max_hamming": 2},
    "dedup_cluster_sizes": {"max_hamming": 2},
    "dedup_canonical_best": {"max_hamming": 2},
    "dedup_canonical_shingle": {
        "max_hamming": 2, "bits": 60, "chunks": 4, "features": "shingle",
    },
}

# the aggregation tail of each query's oracle, with the recursive
# closure replaced by the law-verified `labels` relation
_CANONICAL_TAIL = """
    WITH comp AS (SELECT doc_id, component FROM labels)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
                         THEN len(string_split(d.text, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.source
    ORDER BY source, n_docs, n_kept, kept_tokens
"""

_BEST_TAIL = """
    WITH comp AS (SELECT doc_id, component FROM labels),
    best AS (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        ) WHERE rn = 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN len(string_split(d.text, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    LEFT JOIN best b ON d.doc_id = b.doc_id
    GROUP BY d.source
    ORDER BY source, n_docs, n_kept, kept_tokens
"""

_SIZES_TAIL = """
    WITH sizes AS (
        SELECT component, count(*) AS csize FROM labels GROUP BY component
    )
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize - 1) AS BIGINT) AS removable_docs
    FROM sizes
    GROUP BY csize
    ORDER BY cluster_size, n_clusters, removable_docs
"""

_COMPONENTS_TAIL = """
    SELECT doc_id, component FROM labels ORDER BY doc_id, component
"""

AGG_TAIL: dict[str, str] = {
    "dedup_components": _COMPONENTS_TAIL,
    "dedup_canonical": _CANONICAL_TAIL,
    "dedup_canonical_shingle": _CANONICAL_TAIL,
    "dedup_canonical_best": _BEST_TAIL,
    "dedup_cluster_sizes": _SIZES_TAIL,
}

SCALE_BOUND = set(PAIR_KW)


def _labels_df(spark, sf_dir: str, name: str):
    """The clustering relation exactly as the query computes it, and
    which finish `dedup_components` ran: "driver-local" (union-find
    over the collected arcs, at entry or after shrinking rounds) or
    "rounds" (large-star/small-star to the fixpoint)."""
    from cvemate_spark.operators import dedup
    from cvemate_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, **PAIR_KW[name])
    ran = []
    local_finish = dedup._union_find_components

    def _recorded(down):
        ran.append(True)
        return local_finish(down)

    dedup._union_find_components = _recorded
    try:
        labels = dedup.dedup_components(pairs)
    finally:
        dedup._union_find_components = local_finish
    return labels, "driver-local" if ran else "rounds"


def cap_spill(con) -> int:
    """Point `con`'s spill at SPILL_DIR and cap it at SPILL_SHARE of
    that disk's free bytes, and cap DuckDB's memory at MEMORY_LIMIT so
    it spills instead of growing the process; returns the spill cap."""
    os.makedirs(SPILL_DIR, exist_ok=True)
    cap = int(shutil.disk_usage(SPILL_DIR).free * SPILL_SHARE)
    con.execute(f"SET temp_directory = '{SPILL_DIR}'")
    con.execute(f"SET max_temp_directory_size = '{cap}B'")
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    return cap


def check_laws(
    con,
    labels_pd,
    pairs_sql: str,
    sample_k: int = 32,
    sample_node_cap: int = 100_000,
) -> list[str]:
    """Run laws A-C; returns a list of violations (empty = pass)."""
    problems: list[str] = []
    # a typed temp table, not the registered pandas frame: DuckDB keeps
    # no statistics for a pandas scan, and at sf1 it planned LAW A's
    # two label joins as a labels x labels nested loop on
    # `component <> component` (40k x 40k rows) that filled the spill
    # cap; over the table it plans two hash joins
    con.register("_labels_pd", labels_pd)
    con.execute("CREATE OR REPLACE TEMP TABLE labels AS SELECT * FROM _labels_pd")
    con.unregister("_labels_pd")
    # the pairs SQL is the expensive half (minutes at sf1) and is
    # shared by 4 of the 5 family members — cache the materialized
    # temp table per (connection, sql) so a sweep pays it once
    cache = getattr(con, "_law_pairs_sql", None)
    if cache != pairs_sql:
        import duckdb

        cap = cap_spill(con)
        t0 = time.time()
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE _law_pairs AS {pairs_sql}")
        except duckdb.OutOfMemoryException as e:
            raise RuntimeError(
                f"the oracle pair table outgrew DuckDB's spill cap ({cap} B "
                f"in {SPILL_DIR}, {SPILL_SHARE:.0%} of the free disk): free "
                "space there or run the laws on a smaller corpus"
            ) from e
        n = con.execute("SELECT count(*) FROM _law_pairs").fetchone()[0]
        print(f"_law_pairs: {n} rows ({time.time() - t0:.1f}s)", flush=True)
        try:
            con._law_pairs_sql = pairs_sql
        except AttributeError:  # duckdb connections may reject attrs
            pass

    # LAW A — edge consistency + exact node coverage
    crossing = con.execute("""
        SELECT count(*) FROM _law_pairs p
        JOIN labels l1 ON p.d1 = l1.doc_id
        JOIN labels l2 ON p.d2 = l2.doc_id
        WHERE l1.component <> l2.component
    """).fetchone()[0]
    if crossing:
        problems.append(f"LAW A: {crossing} pairs cross two labels")
    unlabeled = con.execute("""
        WITH nodes AS (
            SELECT d1 AS n FROM _law_pairs UNION SELECT d2 FROM _law_pairs
        )
        SELECT count(*) FROM nodes LEFT JOIN labels l ON nodes.n = l.doc_id
        WHERE l.doc_id IS NULL
    """).fetchone()[0]
    if unlabeled:
        problems.append(f"LAW A: {unlabeled} paired nodes unlabeled")
    extra = con.execute("""
        WITH nodes AS (
            SELECT d1 AS n FROM _law_pairs UNION SELECT d2 FROM _law_pairs
        )
        SELECT count(*) FROM labels l LEFT JOIN nodes ON nodes.n = l.doc_id
        WHERE nodes.n IS NULL
    """).fetchone()[0]
    if extra:
        problems.append(f"LAW A: {extra} labeled rows for unpaired nodes")
    dupes = con.execute("""
        SELECT count(*) FROM (
            SELECT doc_id FROM labels GROUP BY doc_id HAVING count(*) > 1
        )
    """).fetchone()[0]
    if dupes:
        problems.append(f"LAW A: {dupes} doc_ids labeled more than once")

    # LAW B — component id = min(doc_id) of its class
    badroot = con.execute("""
        SELECT count(*) FROM (
            SELECT component, min(doc_id) AS m FROM labels
            GROUP BY component HAVING m <> component
        )
    """).fetchone()[0]
    if badroot:
        problems.append(f"LAW B: {badroot} components with id != min(doc_id)")

    # LAW C — sampled exact closure (largest + hash-sampled classes)
    sample = [r[0] for r in con.execute(f"""
        SELECT component FROM (
            SELECT component, count(*) AS c FROM labels
            GROUP BY component ORDER BY c DESC, component LIMIT {sample_k}
        )
        UNION
        SELECT component FROM (
            SELECT DISTINCT component FROM labels
            ORDER BY hash(component) LIMIT {sample_k}
        )
    """).fetchall()]
    if sample:
        ph = ",".join(str(int(s)) for s in sample)
        nodes = [r for r in con.execute(
            f"SELECT doc_id, component FROM labels WHERE component IN ({ph})"
        ).fetchall()]
        if len(nodes) > sample_node_cap:
            # keep the sample bounded: drop the largest classes first
            keep = set()
            by_comp: dict = {}
            for d, c in nodes:
                by_comp.setdefault(c, []).append(d)
            total = 0
            for c in sorted(by_comp, key=lambda c: len(by_comp[c])):
                if total + len(by_comp[c]) > sample_node_cap:
                    break
                keep.add(c)
                total += len(by_comp[c])
            nodes = [(d, c) for d, c in nodes if c in keep]
            ph = ",".join(str(int(c)) for c in keep) or "-1"
        label_of = {d: c for d, c in nodes}
        edges = con.execute(f"""
            SELECT d1, d2 FROM _law_pairs
            WHERE d1 IN (SELECT doc_id FROM labels WHERE component IN ({ph}))
        """).fetchall()
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        seen: dict = {}
        for start in label_of:
            if start in seen:
                continue
            comp_nodes, q = [], deque([start])
            seen[start] = True
            while q:
                u = q.popleft()
                comp_nodes.append(u)
                for v in adj.get(u, ()):  # BFS over the sampled subgraph
                    if v not in seen:
                        seen[v] = True
                        q.append(v)
            root = min(comp_nodes)
            want = {label_of.get(n) for n in comp_nodes}
            if want != {root}:
                problems.append(
                    f"LAW C: sampled class rooted {root} "
                    f"({len(comp_nodes)} nodes) carries labels {want}"
                )
                break
    return problems


def verify(spark, con, name: str, sf_dir: str) -> tuple[list[str], dict]:
    """Full scalable verification of one closure-bounded query at
    `sf_dir`. Returns (problems, stats)."""
    from cvemate_spark.operators import dedup
    from cvemate_spark.queries import REGISTRY
    from tools.check import compare

    labels, finish = _labels_df(spark, sf_dir, name)
    labels_pd = labels.toPandas()
    print(f"{name}: components finish = {finish}", flush=True)
    pairs_sql = dedup.simhash_pairs_oracle(**PAIR_KW[name])
    problems = check_laws(con, labels_pd, pairs_sql)
    stats = {
        "labeled_nodes": int(len(labels_pd)),
        "components": int(labels_pd["component"].nunique()),
        "pair_rows": con.execute("SELECT count(*) FROM _law_pairs").fetchone()[0],
        "finish": finish,
    }
    if problems:
        return problems, stats
    spark_out = REGISTRY.specs[name].builder(spark, sf_dir).toPandas()
    duck_out = con.execute(AGG_TAIL[name]).df()
    problems = [
        f"AGG: {p}" for p in compare(name, spark_out, duck_out, id_set=False)
    ]
    return problems, stats


if __name__ == "__main__":
    from cvemate_spark.session import get_spark
    from tools.check import duck_connect

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sf1")
    names = sys.argv[2:] or sorted(SCALE_BOUND)
    spark = get_spark("dedup-laws", cpus=8, shuffle_partitions=8)
    con = duck_connect(sf_dir)

    bad = 0
    for n in names:
        t0 = time.time()
        problems, stats = verify(spark, con, n, sf_dir)
        dt = time.time() - t0
        if problems:
            bad += 1
            print(f"[MISMATCH] {n}: {problems} ({dt:.1f}s)")
        else:
            print(f"[OK-LAWS] {n}: {stats} ({dt:.1f}s)")
    raise SystemExit(1 if bad else 0)
