"""Tests of the benchmark itself: seeded inputs, the correctness checks
and the names it prints. None of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _inputs(root: str, seed: int) -> dict[str, bytes]:
    feeds = gen.make_feeds(os.path.join(root, "feeds"), seed, 600)
    feeds.night()
    feeds.night()
    gen.make_corpus(os.path.join(root, "docs.parquet"), seed, 200)
    return _tree_bytes(root)


def test_same_seed_same_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert a.keys() == b.keys() and len(a) > 10
    assert a == b


def test_other_seed_other_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k.endswith((".gz", ".parquet", "page-0000.json")))


def test_lookup_keys_are_seeded_and_skewed():
    ids = [f"CVE-2020-{i}" for i in range(5000)]
    k1 = gen.lookup_keys(3, ids, 2000)
    assert k1 == gen.lookup_keys(3, ids, 2000) != gen.lookup_keys(4, ids, 2000)
    top = max(k1.count(k) for k in set(k1))
    assert top > 2000 / 50  # the hottest key is far above uniform


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    feeds = gen.make_feeds(str(tmp_path_factory.mktemp("feeds")), 11, 800)
    feeds.night()
    return feeds.truth


def _histogram_rows(truth: gen.Truth) -> list[dict]:
    """The rows presence_histogram returns, built from the model."""
    rows = {}
    for cid in truth.ids():
        r = rows.setdefault(truth.priority(cid), {s: 0 for s in gen.SOURCES})
        r["n"] = r.get("n", 0) + 1
        for s in gen.SOURCES:
            r[s] += cid in truth.present[s]
    return [{"priority": p, **r} for p, r in rows.items()]


def test_histogram_check(truth):
    rows = _histogram_rows(truth)
    assert workloads.check_histogram(rows, truth) is None
    flipped = [dict(r) for r in rows]  # one CVE moves from priority 4 to 1
    by_p = {r["priority"]: r for r in flipped}
    by_p[4]["n"] -= 1
    by_p[1]["n"] += 1
    assert "histogram" in workloads.check_histogram(flipped, truth)
    dropped = [dict(r) for r in rows]  # one KEV entry lost
    dropped[0]["kev"] += 1
    assert "presence" in workloads.check_histogram(dropped, truth)


def _analyst(truth: gen.Truth) -> workloads.AnalystReads:
    w = workloads.AnalystReads.__new__(workloads.AnalystReads)
    w.truth = truth
    return w


def _round(truth: gen.Truth) -> list[tuple]:
    keys = sorted(truth.ids())[:5]
    out = [("lookup", k, [{"id": k, "base": truth.base_score(k), "epss": truth.epss.get(k),
                           "kev": k in truth.kev}]) for k in keys]
    out.append(("triage", None, truth.triage(100)))
    out.append(("feed", {"insert": 3, "update": 40}, {"insert": 3, "update": 40}))
    return out


def test_analyst_checks(truth):
    w = _analyst(truth)
    good = _round(truth)
    assert w.check(0, good) is None
    dropped = list(good)
    dropped[0] = ("lookup", good[0][1], [])
    assert "rows" in w.check(0, dropped)
    wrong = list(good)
    k = good[1][1]
    wrong[1] = ("lookup", k, [dict(good[1][2][0], kev=not good[1][2][0]["kev"])])
    assert "lookup" in w.check(0, wrong)
    triage = list(good)
    triage[5] = ("triage", None, truth.triage(100)[::-1])
    assert "triage" in w.check(0, triage)
    feed = list(good)
    feed[6] = ("feed", {"insert": 3, "update": 40}, {"insert": 3, "update": 39})
    assert "change feed" in w.check(0, feed)


def test_dedup_check_against_oracle(tmp_path):
    corpus = gen.make_corpus(str(tmp_path / "docs.parquet"), 5, 300)
    expected = workloads.oracle_shrinkage(corpus.path, 2)
    assert sum(r[1] for r in expected) == 300
    assert sum(r[2] for r in expected) < 300  # the planted clusters shrink the corpus
    w = workloads.CurationDedup.__new__(workloads.CurationDedup)
    w.expected = expected
    assert w.check(0, list(expected)) is None
    corrupt = [tuple(r) for r in expected]
    corrupt[0] = corrupt[0][:2] + (corrupt[0][2] + 1,) + corrupt[0][3:]
    assert "oracle" in w.check(0, corrupt)


def test_corpus_components_are_the_planted_clusters(tmp_path):
    """Near-dup components stay cluster-sized (a base and up to three
    copies), so the component stage's round count does not change with
    the seed through one large accidental component."""
    import duckdb

    from cvemate_spark.operators import dedup

    for seed in (1, 2):
        path = str(tmp_path / f"docs{seed}.parquet")
        gen.make_corpus(path, seed, 2000)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        con.execute("CREATE TEMP TABLE oracle_pairs AS "
                    + dedup.simhash_pairs_oracle(max_hamming=2))
        sql = dedup.dedup_components_oracle("SELECT d1, d2 FROM oracle_pairs")
        largest = con.execute(f"SELECT max(n) FROM (SELECT count(*) AS n FROM ({sql}) "
                              "GROUP BY component)").fetchone()[0]
        con.close()
        assert 2 <= largest <= 6


def test_self_time_and_driver_gap():
    spans = [
        {"id": 0, "parent": None, "op": "op1", "name": "op:x", "start": 0.0, "end": 10.0,
         "counts": {}, "spark": {}},
        {"id": 1, "parent": 0, "op": "op1", "name": "scoring.score", "start": 1.0, "end": 5.0,
         "counts": {}, "spark": {"jobs": 2, "job_intervals": [[1.5, 2.5], [2.0, 3.0]]}},
    ]
    rows = {r["name"]: r for r in report.span_rows(spans)}
    assert rows["op:x"]["self_s"] == pytest.approx(6.0)
    assert rows["scoring.score"]["self_s"] == pytest.approx(4.0)
    assert rows["scoring.score"]["driver_gap_s"] == pytest.approx(2.5)
    m = report.per_layer({"traced_s": [10.0], "untraced_s": [9.0]}, spans)
    assert m["scoring.score.jobs"]["value"] == 2
    assert m["dedup.pairs.self_s"]["value"] == 0  # bypassed layers read 0
    assert m["tracing.overhead_s"]["value"] == pytest.approx(1.0)


def test_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        report.metric_specs()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
