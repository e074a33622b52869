"""The scalable dedup-clustering verifier must be falsifiable: each
law catches the failure mode it exists for (VERDICT r8 item 4 — the
edge-linear replacement for the O(component^2) closure oracle on
derived large corpora is only evidence if it can actually fail)."""

from __future__ import annotations

import random

import pytest

from tools.check import duck_connect
from tools.dedup_laws import PAIR_KW, SCALE_BOUND, check_laws, verify

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture(spark):
    from cvemate_spark.operators import dedup
    from cvemate_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    pairs = dedup.simhash_pairs(docs, **PAIR_KW["dedup_components"])
    labels = dedup.dedup_components(pairs).toPandas()
    con = duck_connect(SF)
    pairs_sql = dedup.simhash_pairs_oracle(**PAIR_KW["dedup_components"])
    return labels, con, pairs_sql


def test_laws_pass_on_true_clustering(fixture):
    labels, con, pairs_sql = fixture
    assert len(labels) > 0 and labels["component"].nunique() > 1
    assert check_laws(con, labels, pairs_sql) == []


def test_law_a_catches_a_split_component(fixture):
    """Relabel one non-root node to itself: its edge now crosses two
    labels — the under-merge failure mode."""
    labels, con, pairs_sql = fixture
    bad = labels.copy()
    victim = bad[bad["doc_id"] != bad["component"]].index[0]
    bad.loc[victim, "component"] = bad.loc[victim, "doc_id"]
    problems = check_laws(con, bad, pairs_sql)
    assert any(p.startswith("LAW A") for p in problems), problems


def test_law_b_catches_a_wrong_root(fixture):
    """Relabel one whole class to its second-smallest member: edges
    stay consistent, but the component id is no longer min(doc_id)."""
    labels, con, pairs_sql = fixture
    bad = labels.copy()
    sizes = bad.groupby("component").size()
    comp = sizes[sizes >= 2].index[0]
    members = sorted(bad.loc[bad["component"] == comp, "doc_id"])
    bad.loc[bad["component"] == comp, "component"] = members[1]
    problems = check_laws(con, bad, pairs_sql)
    assert any(p.startswith("LAW B") for p in problems), problems


def test_law_c_catches_an_over_merge(fixture):
    """Merge two disjoint classes under the smaller root: laws A and B
    still hold (no edge crosses, the root is the min of the union) —
    only the sampled exact closure can see the class is disconnected."""
    labels, con, pairs_sql = fixture
    bad = labels.copy()
    roots = sorted(bad["component"].unique())
    assert len(roots) >= 2
    a, b = roots[0], roots[1]
    bad.loc[bad["component"] == b, "component"] = a
    problems = check_laws(con, bad, pairs_sql)
    assert any(p.startswith("LAW C") for p in problems), problems
    assert not any(p.startswith("LAW A") or p.startswith("LAW B")
                   for p in problems), problems


def test_full_verify_green_for_every_scale_bound_query(spark):
    con = duck_connect(SF)
    for name in sorted(SCALE_BOUND):
        problems, stats = verify(spark, con, name, SF)
        assert problems == [], (name, problems)
        assert stats["labeled_nodes"] > 0


def test_components_converge_beyond_any_linear_cap(spark, monkeypatch):
    """The round-9 convergence fix: a 300-long chain (diameter far
    beyond any per-round propagation budget) must still resolve to a
    single component rooted at the min id in the distributed rounds,
    and the operator must RAISE rather than return unconverged labels
    if the cap is genuinely exhausted. The local-finish bound is 0 so
    the chain cannot leave the rounds for the driver-side finish."""
    from cvemate_spark.operators import dedup

    monkeypatch.setattr(dedup, "LOCAL_FINISH_ARCS", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["d1", "d2"]
    )
    out = dedup.dedup_components(pairs).collect()
    assert len(out) == 301
    assert {r["component"] for r in out} == {0}

    # silent truncation is outlawed: an impossible budget raises
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.dedup_components(pairs, max_iter=2)


def _random_graph(seed: int, n_nodes: int, n_pairs: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    out: set[tuple[int, int]] = set()
    while len(out) < n_pairs:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            out.add((a, b))
    return sorted(out)


# no self-pairs: the oracle keeps a self-pair's node, both Spark
# finishes drop it (tests/test_operators.py pins that edge input)
LAW_GRAPHS = {
    "chain300": [(i, i + 1) for i in range(300)],
    "star": [(57, i) for i in range(120) if i != 57],
    "random_sparse": _random_graph(1, 400, 300),
    "random_dense": _random_graph(2, 80, 200),
    "random_reversed": [(b, a) for a, b in _random_graph(3, 200, 220)],
}


@pytest.mark.parametrize("graph", ["sf0.001_simhash", *LAW_GRAPHS])
def test_local_finish_equals_ls_ss_and_oracle(spark, monkeypatch, graph):
    """The driver-side union-find finish, the large-star/small-star
    rounds (forced by a bound of 0) and the recursive-CTE oracle give
    the same (doc_id, component) rows."""
    import duckdb
    import pyarrow as pa

    from cvemate_spark.operators import dedup
    from cvemate_spark.tables import load_table

    if graph == "sf0.001_simhash":
        kw = PAIR_KW["dedup_components"]
        pairs = dedup.simhash_pairs(load_table(spark, SF, "documents"), **kw)
        con, pairs_sql = duck_connect(SF), dedup.simhash_pairs_oracle(**kw)
    else:
        rows = LAW_GRAPHS[graph]
        pairs = spark.createDataFrame(rows, "d1 bigint, d2 bigint")
        con = duckdb.connect()
        d1, d2 = zip(*rows)
        con.register("g", pa.table({"d1": list(d1), "d2": list(d2)}))
        pairs_sql = "SELECT d1, d2 FROM g"
    local = dedup.dedup_components(pairs)
    assert local.isLocal(), "graph did not take the local finish"
    monkeypatch.setattr(dedup, "LOCAL_FINISH_ARCS", 0)
    dist = dedup.dedup_components(pairs)
    assert not dist.isLocal()
    oracle = con.execute(dedup.dedup_components_oracle(pairs_sql)).fetchall()
    got = sorted(map(tuple, local.collect()))
    assert got == sorted(map(tuple, dist.collect()))
    assert got == [tuple(r) for r in oracle]


# Spark jobs of one dedup_components call plus the collect of its
# output on the sf0.001 simhash pair graph (322 pairs), measured on
# local[4] with 4 shuffle partitions. Job counts do not depend on host
# load, so a regression fails here whatever the CPU steal. Local
# finish: the arc checkpoint (distinct's shuffle stage + the
# checkpoint) and the Arrow collect; the output is a local relation.
# The rounds: 67, the same as before the local finish existed.
COMPONENT_JOBS_LOCAL = 3
COMPONENT_JOBS_ROUNDS = 67


def test_components_job_count_pin(spark, monkeypatch):
    from cvemate_spark.operators import dedup
    from cvemate_spark.tables import load_table

    sc = spark.sparkContext
    docs = load_table(spark, SF, "documents")
    pairs = dedup.simhash_pairs(docs, **PAIR_KW["dedup_components"]).localCheckpoint()

    def jobs(group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            dedup.dedup_components(pairs).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("cc-pin-local") <= COMPONENT_JOBS_LOCAL
    monkeypatch.setattr(dedup, "LOCAL_FINISH_ARCS", 0)
    assert jobs("cc-pin-rounds") <= COMPONENT_JOBS_ROUNDS
