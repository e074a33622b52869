"""The workloads: what one op does, what set-up builds, and how
each op's output is checked against the generator's truth model.

Every call into the package goes through a tracer span named after the
layer it enters (`sources.read_normalize`, `merge.fold`,
`scoring.score`, `pipeline.write`, `merge_versioned.*`, `dedup.*`).
With tracing off the spans cost nothing and lazy outputs stay lazy.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from pyspark.sql import functions as F, types as T

from cvemate_spark import pipeline
from cvemate_spark.functions.scoring import cvss_base_score, score_cve_table
from cvemate_spark.operators import dedup
from cvemate_spark.operators.merge import merge_many, merge_upsert
from cvemate_spark.operators.merge_versioned import (
    change_feed,
    init_bucket_table_versioned,
    merge_scoped_versioned,
    read_bucket_for_key_versioned,
    read_bucket_table_versioned,
    vacuum_bucket_versions,
)
from cvemate_spark.queries.dedup_ops import dedup_canonical
from cvemate_spark.sources import formats

import gen

N_BUCKETS = 16
T0 = dt.datetime(2026, 4, 1)

_METRIC = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("cvssData", T.StructType([
        T.StructField("version", T.StringType()),
        T.StructField("baseScore", T.DoubleType()),
    ])),
])
_LANG_VALUE = T.ArrayType(T.StructType([
    T.StructField("lang", T.StringType()), T.StructField("value", T.StringType()),
]))
# an explicit page schema: a nightly delta must land with the committed
# column type, which inference over a small page cannot promise
NVD_SCHEMA = T.StructType([
    T.StructField("resultsPerPage", T.LongType()),
    T.StructField("startIndex", T.LongType()),
    T.StructField("vulnerabilities", T.ArrayType(T.StructType([
        T.StructField("cve", T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("sourceIdentifier", T.StringType()),
            T.StructField("published", T.StringType()),
            T.StructField("lastModified", T.StringType()),
            T.StructField("vulnStatus", T.StringType()),
            T.StructField("descriptions", _LANG_VALUE),
            T.StructField("metrics", T.StructType([
                T.StructField("cvssMetricV31", T.ArrayType(_METRIC)),
                T.StructField("cvssMetricV30", T.ArrayType(_METRIC)),
                T.StructField("cvssMetricV2", T.ArrayType(_METRIC)),
            ])),
            T.StructField("weaknesses", T.ArrayType(T.StructType([
                T.StructField("source", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("description", _LANG_VALUE),
            ]))),
        ])),
    ]))),
])


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Ctx:
    """What every workload shares: the session, the tracer, the run's
    scratch directory and the seed."""

    def __init__(self, spark, tracer, tmp: str, seed: int, sizes: dict):
        self.spark, self.tracer, self.tmp, self.seed, self.sizes = spark, tracer, tmp, seed, sizes


# ------------------------------------------------------------ layer calls
def read_normalize(ctx: Ctx, src: str, path: str):
    spark, tr = ctx.spark, ctx.tracer
    with tr.span(f"sources.read_normalize:{src}") as s:
        if src == "nvd":
            df = formats.normalize_nvd(formats.read_nvd_json(spark, path, schema=NVD_SCHEMA))
        elif src == "epss":
            df = formats.normalize_epss(formats.read_epss_csv(spark, path))
        elif src == "kev":
            df = formats.normalize_kev(spark, path)
        elif src == "exploitdb":
            df = formats.normalize_exploitdb(spark.read.csv(path, header=True))
        elif src == "metasploit":
            df = formats.normalize_metasploit(spark, path)
        elif src == "debian":
            df = formats.normalize_debian(spark, path)
        elif src == "redhat":
            df = formats.normalize_redhat(formats.read_redhat_json(spark, path))
        elif src == "cveorg":
            df = formats.normalize_cveorg_delta(spark, path).select(
                "id", F.struct("fetch_time").alias("cveorg"))
        else:
            raise ValueError(src)
        return tr.hold(df, s)


def presence_histogram(scored) -> list:
    """Priority histogram plus per-source presence counts, one job."""
    return (
        scored.groupBy("priority")
        .agg(F.count("*").alias("n"), *[F.count(s).alias(s) for s in gen.SOURCES])
        .collect()
    )


def check_histogram(rows, truth: gen.Truth) -> str | None:
    hist = {r["priority"]: r["n"] for r in rows}
    pres = {s: sum(r[s] for r in rows) for s in gen.SOURCES}
    if hist != truth.histogram():
        return f"priority histogram {hist} != {truth.histogram()}"
    if pres != truth.presence():
        return f"presence {pres} != {truth.presence()}"
    return None


def fold_initial(ctx: Ctx, feeds: gen.Feeds, now):
    batches = {s: read_normalize(ctx, s, feeds.files[s]) for s in gen.MANY_SOURCES}
    epss = read_normalize(ctx, "epss", feeds.files["epss"])
    with ctx.tracer.span("merge.fold") as s:
        return ctx.tracer.hold(merge_upsert(merge_many(batches, now=now), epss, now=now), s)


# ------------------------------------------------------------ workloads
class Workload:
    name = ""
    op_name = "op"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def inputs(self) -> dict:
        """Generate the seeded inputs (before the session starts)."""
        raise NotImplementedError

    def setup(self) -> None:
        """Build the workload's state; timed as part of setup_s."""

    def prepare(self, i: int) -> None:
        """Untimed per-op input preparation."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> str | None:
        """None if op i's output is right, else what is wrong."""
        raise NotImplementedError

    def check_setup(self) -> str | None:
        """None if the state set-up built is right, else what is wrong."""
        return None

    def extra(self) -> dict:
        """Workload-specific figures, reported beside the metrics."""
        return {}


class NightlyRefresh(Workload):
    """Set-up is the initial sync: read and normalize all eight feeds,
    fold them, write the scored cve table and load the versioned table.
    One op is one night: commit an NVD modified window, KEV additions and
    a full EPSS re-score, run a scored scan, vacuum."""

    name = "nightly_refresh"
    op_name = "night"
    vacuum_keep = 3  # one night of history
    write_initial = True

    def inputs(self) -> dict:
        self.feeds = gen.make_feeds(os.path.join(self.ctx.tmp, "feeds"), self.ctx.seed,
                                    self.ctx.sizes["n_ids"])
        self.initial_truth = self.feeds.truth.copy()
        self.table = os.path.join(self.ctx.tmp, "cve_versioned")
        self.cve_dir = os.path.join(self.ctx.tmp, "cve")
        self.nights: dict[int, gen.Night] = {}
        self.commits: list[dict] = []
        self.batch_rows = 0
        return {"n_ids": self.ctx.sizes["n_ids"], "feed_rows": self.feeds.n_rows}

    def setup(self) -> None:
        self.initial_sync()

    def initial_sync(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        t = time.perf_counter()
        cve = fold_initial(ctx, self.feeds, T0)
        if self.write_initial:
            with tr.span("scoring.score") as s:
                scored = tr.hold(score_cve_table(cve), s)
            with tr.span("pipeline.write") as s:
                pipeline.write_cve_table(scored, self.cve_dir, n_buckets=N_BUCKETS)
                if tr.enabled:
                    s.count("bytes_out", dir_bytes(self.cve_dir))
        init_bucket_table_versioned(self.table, key="id", n_buckets=N_BUCKETS)
        with tr.span("merge_versioned.commit:initial") as s:
            _count_commit(s, merge_scoped_versioned(ctx.spark, self.table, cve, now=T0))
        tr.release()
        self.sync_s = time.perf_counter() - t

    def check_setup(self) -> str | None:
        if not self.write_initial:
            return None
        rows = presence_histogram(self.ctx.spark.read.parquet(self.cve_dir))
        shutil.rmtree(self.cve_dir)
        return check_histogram(rows, self.initial_truth)

    def prepare(self, i: int) -> None:
        self.nights[i] = self.feeds.night()

    def run_night(self, night: gen.Night, vacuum: bool = True):
        ctx, tr = self.ctx, self.ctx.tracer
        now = T0 + dt.timedelta(days=night.k)
        versions = []
        for src, path in (("nvd", night.nvd_dir), ("kev", night.kev_path), ("epss", night.epss_path)):
            batch = read_normalize(ctx, src, path)
            with tr.span(f"merge_versioned.commit:{src}") as s:
                r = merge_scoped_versioned(ctx.spark, self.table, batch, now=now)
                _count_commit(s, r)
            self.commits.append(r)
            versions.append(r["version"])
        self.batch_rows += sum(night.rows.values())
        rows = scored_scan(ctx, self.table, presence_histogram)
        if vacuum:
            with tr.span("merge_versioned.vacuum") as s:
                before = dir_bytes(self.table) if tr.enabled else 0
                vacuum_bucket_versions(self.table, keep=self.vacuum_keep)
                if tr.enabled:
                    s.count("bytes_freed", before - dir_bytes(self.table))
        tr.release()
        return versions, rows

    def op(self, i: int):
        return self.run_night(self.nights[i])[1]

    def check(self, i: int, out) -> str | None:
        return check_histogram(out, self.nights.pop(i).truth)

    def extra(self) -> dict:
        live = self.feeds.truth.ids()
        return {
            "rebuild_s": {"value": self.sync_s, "unit": "s"},  # the initial sync, once
            "rewrite_bytes_per_row": {
                "value": sum(c["bytes_rewritten"] for c in self.commits) / max(self.batch_rows, 1),
                "unit": "B/row"},
            "table_bytes_per_row": {"value": dir_bytes(self.table) / len(live), "unit": "B/row"},
            "buckets_touched_per_commit": {
                "value": sum(c["buckets_touched"] for c in self.commits) / max(len(self.commits), 1),
                "unit": "count"},
        }


def _count_commit(span, r: dict) -> None:
    for k in ("buckets_touched", "files_rewritten", "bytes_rewritten"):
        span.count(k, r[k])


def scored_scan(ctx: Ctx, table: str, consume):
    tr = ctx.tracer
    with tr.span("merge_versioned.scan") as s:
        snap = tr.hold(read_bucket_table_versioned(ctx.spark, table), s)
    with tr.span("scoring.score"):
        return consume(score_cve_table(snap))


class AnalystReads(NightlyRefresh):
    """Reads only, against a table with a few committed nights: Zipf-
    skewed point lookups, triage scans and change-feed pulls, in a
    seeded interleave. One op is one round of that interleave."""

    name = "analyst_reads"
    op_name = "round"
    write_initial = False
    # assumption: point lookups outnumber full-table reads 12:1:1; no
    # access log is available to set the mix
    LOOKUPS_PER_ROUND = 12

    def inputs(self) -> dict:
        info = super().inputs()
        self.rng = random.Random(f"{self.ctx.seed}:rounds")
        self.lat: dict[str, list[float]] = {"lookup": [], "triage": [], "feed": []}
        return info

    def setup(self) -> None:
        self.initial_sync()
        night = self.feeds.night()
        (v_nvd, v_kev, _), _ = self.run_night(night, vacuum=False)
        # the change feed a downstream consumer pulls: the night's NVD and
        # KEV commits (the EPSS re-score rewrites every row)
        new = night.new_ids
        self.feed_span = (v_nvd - 1, v_kev, {
            "insert": len(new), "update": len((night.nvd_ids | night.kev_ids) - new)})
        self.truth = self.feeds.truth
        self.keys = gen.lookup_keys(self.ctx.seed, sorted(self.truth.ids()), 100_000)
        self.key_pos = 0

    def prepare(self, i: int) -> None:
        kinds = ["lookup"] * self.LOOKUPS_PER_ROUND + ["triage", "feed"]
        self.rng.shuffle(kinds)
        self.plan = kinds

    def op(self, i: int):
        results = []
        for kind in self.plan:
            t = time.perf_counter()
            if kind == "lookup":
                key = self.keys[self.key_pos]
                self.key_pos += 1
                results.append(("lookup", key, self.lookup(key)))
            elif kind == "triage":
                results.append(("triage", None, self.triage()))
            else:
                a, b, want = self.feed_span
                results.append(("feed", want, self.feed(a, b)))
            self.lat[kind].append(time.perf_counter() - t)
        return results

    def lookup(self, key: str):
        with self.ctx.tracer.span("merge_versioned.lookup"):
            df = read_bucket_for_key_versioned(self.ctx.spark, self.table, key)
            return df.filter(F.col("id") == key).select(
                "id",
                cvss_base_score(F.col("nvd")).alias("base"),
                F.col("epss.epss_score").alias("epss"),
                F.col("kev").isNotNull().alias("kev"),
            ).collect()

    def triage(self):
        def top(scored):
            return [r["id"] for r in (
                scored.filter(F.col("priority") == 1)
                .orderBy(F.col("epss.epss_score").cast("double").desc(), "id")
                .limit(100).select("id").collect())]
        out = scored_scan(self.ctx, self.table, top)
        self.ctx.tracer.release()
        return out

    def feed(self, a: int, b: int):
        tr = self.ctx.tracer
        with tr.span("merge_versioned.feed") as s:
            rows = change_feed(self.ctx.spark, self.table, a, b).groupBy("change").count().collect()
            s.count("rows_out", sum(r["count"] for r in rows))
        return {r["change"]: r["count"] for r in rows}

    def check(self, i: int, out) -> str | None:
        for kind, arg, got in out:
            if kind == "lookup":
                if len(got) != 1:
                    return f"lookup {arg}: {len(got)} rows"
                have = {k: got[0][k] for k in ("base", "epss", "kev")}
                if have != self.truth.lookup(arg):
                    return f"lookup {arg}: {have} != {self.truth.lookup(arg)}"
            elif kind == "triage":
                if got != self.truth.triage(100):
                    return "triage top-100 differs"
            elif {k: v for k, v in got.items() if v} != {k: v for k, v in arg.items() if v}:
                return f"change feed counts {got} != {arg}"
        return None

    def extra(self) -> dict:
        out = {}
        for kind, unit, scale in (("lookup", "ms", 1e3), ("triage", "s", 1), ("feed", "s", 1)):
            xs = sorted(self.lat[kind])
            if not xs:
                continue
            out[f"{kind}_p50_{unit}"] = {"value": _pct(xs, 0.5) * scale, "unit": unit, "n": len(xs)}
            if kind == "lookup":
                out[f"{kind}_p90_{unit}"] = {"value": _pct(xs, 0.9) * scale, "unit": unit, "n": len(xs)}
        return out


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class CurationDedup(Workload):
    """simhash pairs -> connected components -> canonical survivors ->
    per-source shrinkage, over a corpus with planted near-dup clusters."""

    name = "curation_dedup"
    op_name = "dedup"
    MAX_HAMMING = 2

    def inputs(self) -> dict:
        self.corpus = gen.make_corpus(os.path.join(self.ctx.tmp, "documents.parquet"),
                                      self.ctx.seed, self.ctx.sizes["n_docs"])
        self.expected = oracle_shrinkage(self.corpus.path, self.MAX_HAMMING)
        return {"n_docs": self.corpus.n_docs, "n_tokens": self.corpus.n_tokens,
                "planted_clusters": self.corpus.clusters}

    def setup(self) -> None:
        # one warm-up pass: the first pass pays about 10 s of first-call
        # JIT compilation, and the second is still settling, so without it
        # the median op would land on an unsettled pass
        self.op(-1)

    def op(self, i: int):
        """The package's own composed pass, `dedup_canonical`, on the
        corpus directory; the traced run times its pair and component
        stages as spans of their own."""
        tr = self.ctx.tracer
        with tr.wrap(dedup, "simhash_pairs", "dedup.pairs"), \
                tr.wrap(dedup, "dedup_components", "dedup.components"):
            rows = dedup_canonical(self.ctx.spark, os.path.dirname(self.corpus.path)).collect()
        tr.release()
        return [tuple(r) for r in rows]

    def check(self, i: int, out) -> str | None:
        return None if out == self.expected else f"shrinkage {out} != oracle {self.expected}"


def oracle_shrinkage(corpus_path: str, max_hamming: int) -> list[tuple]:
    """The package's data-independent DuckDB oracle for the composed
    dedup pass, evaluated on the generated corpus."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_path}')")
        # the pairs are materialized once: inlined into the recursive
        # CTE they are recomputed on every iteration (50x slower, same rows)
        con.execute("CREATE TEMP TABLE oracle_pairs AS "
                    + dedup.simhash_pairs_oracle(max_hamming=max_hamming))
        sql = dedup.dedup_canonical_oracle("SELECT d1, d2 FROM oracle_pairs")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (NightlyRefresh, AnalystReads, CurationDedup)}
