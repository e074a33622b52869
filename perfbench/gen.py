"""Seeded inputs for the lifecycle benchmark.

Writes the eight CveMate feeds in the landing formats the package
readers accept (`cvemate_spark/sources/formats.py`), the nightly
deltas, and a document corpus with planted near-duplicate clusters.
Alongside the files it keeps a per-key truth model (CVSS base score,
EPSS, KEV, per-source presence) from which every correctness check of
the benchmark is computed. The same seed gives byte-identical files.

Pure Python (plus pyarrow for the corpus parquet); nothing here starts
Spark, so the generator and the checks are testable on their own.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# sources folded by merge_many; EPSS is merged afterwards by merge_upsert
MANY_SOURCES = ("nvd", "kev", "exploitdb", "metasploit", "debian", "redhat", "cveorg")
SOURCES = MANY_SOURCES + ("epss",)

# Where the traffic's shape comes from. Figures marked "public" are
# approximate published counts (end of 2024); the rest are assumptions of
# this benchmark, chosen for the layer they load, and are listed as such
# in CHANGES.md.
#
# Per-source share of the universe that the initial feeds cover.
# kev, public: the CISA KEV catalog listed about 1.2k CVEs against about
# 270k published CVE records, about 0.5%. nvd, assumption: nearly every
# id has an NVD record. exploitdb, metasploit, debian, redhat, cveorg,
# assumption: single-digit to low-tens percentages, so each feed is a
# sparse column of the wide table, as in the real sources.
COVERAGE = {
    "nvd": 0.95, "kev": 0.005, "exploitdb": 0.05, "metasploit": 0.02,
    "debian": 0.10, "redhat": 0.10, "cveorg": 0.05,
}
# assumption: a few EPSS rows arrive without a percentile, so that the
# reader's completeness filter (normalize_epss) drops rows
EPSS_INCOMPLETE = 0.005
NVD_PAGE_SIZE = 2000

# scoring ladder thresholds, as in functions/scoring.py
CVSS_THRESHOLD = 6.0
EPSS_THRESHOLD = 0.2

# assumption: the four CVSS metric shapes equally often and base scores
# uniform over 0.0-10.0, so every rung of cvss_base_score and of the
# priority ladder is exercised; real NVD records are mostly V3.1 and
# cluster between 5 and 8
NVD_VARIANTS = ("v31", "v30", "v2", "v31_noscore")
DEBIAN_PACKAGES = [f"pkg{i:03d}" for i in range(200)]
DOC_SOURCES = ("code", "forum", "news", "web")


def _cve_id(i: int) -> str:
    return f"CVE-{2014 + i % 12}-{10000 + i // 12}"


@dataclass
class Truth:
    """What the committed `cve` table must hold, key by key."""

    nvd: dict[str, tuple[str, float]] = field(default_factory=dict)
    epss: dict[str, str] = field(default_factory=dict)
    kev: set[str] = field(default_factory=set)
    present: dict[str, set[str]] = field(default_factory=dict)

    def base_score(self, cid: str) -> float:
        """cvss_base_score: the first present metric version wins, and a
        present V3.1 metric without a score scores 0.0."""
        rec = self.nvd.get(cid)
        if rec is None:
            return 0.0
        variant, score = rec
        return 0.0 if variant == "v31_noscore" else score

    def epss_score(self, cid: str) -> float:
        s = self.epss.get(cid)
        return float(s) if s is not None else 0.0

    def priority(self, cid: str) -> int:
        base_hit = self.base_score(cid) >= CVSS_THRESHOLD
        epss_hit = self.epss_score(cid) >= EPSS_THRESHOLD
        if cid in self.kev or (base_hit and epss_hit):
            return 1
        if base_hit:
            return 2
        return 3 if epss_hit else 4

    def ids(self) -> set[str]:
        out: set[str] = set()
        for s in self.present.values():
            out |= s
        return out

    def histogram(self) -> dict[int, int]:
        h: dict[int, int] = {}
        for cid in self.ids():
            p = self.priority(cid)
            h[p] = h.get(p, 0) + 1
        return dict(sorted(h.items()))

    def presence(self) -> dict[str, int]:
        return {s: len(self.present.get(s, ())) for s in SOURCES}

    def triage(self, n: int = 100) -> list[str]:
        """Priority-1 ids, highest EPSS first, id breaking ties."""
        p1 = [c for c in self.ids() if self.priority(c) == 1]
        p1.sort(key=lambda c: (-self.epss_score(c), c))
        return p1[:n]

    def lookup(self, cid: str) -> dict:
        """The fields a point lookup is checked on."""
        return {"base": self.base_score(cid), "epss": self.epss.get(cid), "kev": cid in self.kev}

    def copy(self) -> "Truth":
        return Truth(
            dict(self.nvd), dict(self.epss), set(self.kev),
            {s: set(v) for s, v in self.present.items()},
        )


# ------------------------------------------------------------ writers
def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))


def _nvd_record(cid: str, variant: str, score: float, rng: random.Random) -> dict:
    data = {"version": "3.1", "baseScore": score}
    metrics = {
        "v31": {"cvssMetricV31": [{"source": "nvd@nist.gov", "type": "Primary", "cvssData": data}]},
        "v30": {"cvssMetricV30": [{"source": "nvd@nist.gov", "type": "Primary",
                                   "cvssData": {"version": "3.0", "baseScore": score}}]},
        "v2": {"cvssMetricV2": [{"source": "nvd@nist.gov", "type": "Primary",
                                 "cvssData": {"version": "2.0", "baseScore": score}}]},
        # the presence-gated case: V3.1 present without a score scores
        # 0.0, never the V3.0 value beside it
        "v31_noscore": {
            "cvssMetricV31": [{"source": "nvd@nist.gov", "type": "Primary",
                               "cvssData": {"version": "3.1"}}],
            "cvssMetricV30": [{"source": "nvd@nist.gov", "type": "Primary",
                               "cvssData": {"version": "3.0", "baseScore": score}}],
        },
    }[variant]
    day = rng.randint(1, 28)
    return {
        "cve": {
            "id": cid,
            "sourceIdentifier": "cve@mitre.org",
            "published": f"2024-{rng.randint(1, 12):02d}-{day:02d}T10:00:00.000",
            "lastModified": f"2026-03-{day:02d}T12:00:00.000",
            "vulnStatus": rng.choice(("Analyzed", "Modified", "Awaiting Analysis")),
            "descriptions": [{"lang": "en", "value": f"Issue {rng.getrandbits(48):012x} in component {rng.randint(1, 5000)}"}],
            "metrics": metrics,
            "weaknesses": [{"source": "nvd@nist.gov", "type": "Primary",
                            "description": [{"lang": "en", "value": f"CWE-{rng.randint(1, 1400)}"}]}],
        }
    }


def _draw_nvd(rng: random.Random) -> tuple[str, float]:
    return rng.choice(NVD_VARIANTS), rng.randint(0, 100) / 10.0


def write_nvd_pages(out_dir: str, recs: list[dict]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for p in range(0, max(len(recs), 1), NVD_PAGE_SIZE):
        page = recs[p:p + NVD_PAGE_SIZE]
        _write_json(
            os.path.join(out_dir, f"page-{p // NVD_PAGE_SIZE:04d}.json"),
            {"resultsPerPage": len(page), "startIndex": p, "vulnerabilities": page},
        )


def write_epss(path: str, rows: list[tuple[str, str, str]], score_date: str) -> None:
    """csv.gz with the '#model_version' comment line; gzip mtime pinned
    so the bytes depend on the seed alone."""
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0
    ) as gz, io.TextIOWrapper(gz, newline="") as f:
        f.write(f"#model_version:v2026.03.01,score_date:{score_date}T00:00:00Z\n")
        f.write("cve,epss,percentile\n")
        for cid, score, pct in rows:
            f.write(f"{cid},{score},{pct}\n")


def write_kev(path: str, ids: list[str], date: str) -> None:
    _write_json(path, {
        "catalogVersion": date,
        "dateReleased": f"{date}T00:00:00.000Z",
        "vulnerabilities": [
            {"cveID": c, "vendorProject": f"vendor{hash_int(c) % 97}",
             "product": f"product{hash_int(c) % 301}", "dateAdded": date}
            for c in ids
        ],
    })


def hash_int(s: str) -> int:
    """A process-independent string hash (str.__hash__ is salted)."""
    h = 0
    for ch in s.encode():
        h = (h * 131 + ch) & 0xFFFFFFFF
    return h


def _epss_rows(rng: random.Random, ids: list[str], truth: Truth) -> list[tuple[str, str, str]]:
    """One EPSS file's rows. Rows with an empty percentile are dropped by
    normalize_epss, so a re-score leaves those ids' previous score."""
    # assumption: EPSS = u**6 for uniform u, a long tail toward 0 with
    # about 23.5% of ids at or above the 0.2 threshold. The published
    # scores are more concentrated near 0; this heavier tail makes the
    # priority-1 set (and the triage result) larger, not the scan.
    rows = []
    for cid in ids:
        score = f"{rng.random() ** 6:.5f}"
        if rng.random() < EPSS_INCOMPLETE:
            rows.append((cid, score, ""))
            continue
        rows.append((cid, score, f"{rng.random():.5f}"))
        truth.epss[cid] = score
    truth.present["epss"] = set(truth.epss)
    return rows


# ------------------------------------------------------------ feeds
@dataclass
class Feeds:
    """The initial landing files of one CVE universe, plus the night
    generator that advances the truth model."""

    root: str
    seed: int
    n_ids: int
    truth: Truth
    files: dict[str, str]
    n_rows: dict[str, int]
    next_id: int = 0
    nights: int = 0

    def night(self) -> "Night":
        """Write the next night's three delta batches and advance the
        truth model to the state after committing all three."""
        k = self.nights + 1
        rng = random.Random(f"{self.seed}:night:{k}")
        d = os.path.join(self.root, f"night-{k:03d}")
        os.makedirs(d, exist_ok=True)
        t = self.truth
        universe = sorted(t.ids())
        # NVD modified window: ~1% of ids, uniform over keys (assumption:
        # a daily lastModified window), plus the newly published CVEs
        # (public: about 40k CVEs were published in 2024, about 110 a
        # day, about 0.04% of the published records)
        modified = rng.sample(universe, max(1, len(universe) // 100))
        fresh = [_cve_id(self.next_id + j) for j in range(max(1, len(universe) // 2500))]
        self.next_id += len(fresh)
        recs = []
        for cid in sorted(modified + fresh):
            variant, score = _draw_nvd(rng)
            t.nvd[cid] = (variant, score)
            recs.append(_nvd_record(cid, variant, score, rng))
        t.present["nvd"] |= set(fresh) | set(modified)
        write_nvd_pages(os.path.join(d, "nvd"), recs)
        # KEV: a handful of additions not yet listed. Public: about 185
        # were added in 2024, about 0.5 a day; six a night over-represent
        # them on purpose, so every night has a commit with a tiny bucket
        # footprint
        candidates = [c for c in universe if c not in t.kev]
        kev_add = sorted(rng.sample(candidates, 6))
        t.kev |= set(kev_add)
        t.present["kev"] |= set(kev_add)
        date = f"2026-04-{(k - 1) % 28 + 1:02d}"
        write_kev(os.path.join(d, "kev.json"), kev_add, date)
        # EPSS: a full daily re-score of every id, the new ones included
        all_ids = sorted(set(universe) | set(fresh))
        rows = _epss_rows(rng, all_ids, t)
        write_epss(os.path.join(d, "epss.csv.gz"), rows, date)
        self.nights = k
        return Night(
            k, os.path.join(d, "nvd"), os.path.join(d, "kev.json"),
            os.path.join(d, "epss.csv.gz"),
            nvd_ids=set(modified) | set(fresh), new_ids=set(fresh),
            kev_ids=set(kev_add), rows={"nvd": len(recs), "kev": len(kev_add), "epss": len(rows)},
            truth=t.copy(),
        )


@dataclass
class Night:
    k: int
    nvd_dir: str
    kev_path: str
    epss_path: str
    nvd_ids: set[str]
    new_ids: set[str]
    kev_ids: set[str]
    rows: dict[str, int]
    truth: Truth


def make_feeds(root: str, seed: int, n_ids: int) -> Feeds:
    """Write the initial eight feeds for a universe of `n_ids` CVEs."""
    rng = random.Random(f"{seed}:feeds")
    os.makedirs(root, exist_ok=True)
    ids = [_cve_id(i) for i in range(n_ids)]
    t = Truth(present={s: set() for s in SOURCES})

    def pick(src: str) -> list[str]:
        chosen = sorted(c for c in ids if rng.random() < COVERAGE[src])
        t.present[src] = set(chosen)
        return chosen

    files: dict[str, str] = {}
    n_rows: dict[str, int] = {}

    nvd_recs = []
    for cid in pick("nvd"):
        variant, score = _draw_nvd(rng)
        t.nvd[cid] = (variant, score)
        nvd_recs.append(_nvd_record(cid, variant, score, rng))
    files["nvd"] = os.path.join(root, "nvd")
    write_nvd_pages(files["nvd"], nvd_recs)
    n_rows["nvd"] = len(nvd_recs)

    epss_rows = _epss_rows(rng, ids, t)
    files["epss"] = os.path.join(root, "epss_scores.csv.gz")
    write_epss(files["epss"], epss_rows, "2026-03-31")
    n_rows["epss"] = len(epss_rows)

    kev = pick("kev")
    t.kev = set(kev)
    files["kev"] = os.path.join(root, "kev_catalog.json")
    write_kev(files["kev"], kev, "2026-03-31")
    n_rows["kev"] = len(kev)

    # ExploitDB: every third exploit lists two CVEs, each CVE appears in
    # one exploit only (merge_many keeps one payload per key and source)
    edb = pick("exploitdb")
    files["exploitdb"] = os.path.join(root, "files_exploits.csv")
    with open(files["exploitdb"], "w", newline="") as f:
        f.write("id,file,description,codes\n")
        i = n = 0
        while i < len(edb):
            codes = [edb[i]]
            if n % 3 == 0 and i + 1 < len(edb):
                codes.append(edb[i + 1])
            codes.append(f"OSVDB-{rng.randint(1000, 99999)}")
            f.write(f"{40000 + n},exploits/linux/remote/{40000 + n}.py,Remote exploit {n},{';'.join(codes)}\n")
            i += len(codes) - 1
            n += 1
    n_rows["exploitdb"] = n

    msf = pick("metasploit")
    files["metasploit"] = os.path.join(root, "msf_modules.json")
    _write_json(files["metasploit"], {
        f"exploit/linux/http/mod_{j:05d}": {
            "name": f"mod_{j:05d}", "fullname": f"exploit/linux/http/mod_{j:05d}",
            "rank": rng.choice((100, 300, 400, 500, 600)), "disclosure_date": None,
            "references": [cid, f"URL-https://example.org/{j}"],
        }
        for j, cid in enumerate(msf)
    })
    n_rows["metasploit"] = len(msf)

    tracker: dict[str, dict] = {}
    for cid in pick("debian"):
        tracker.setdefault(rng.choice(DEBIAN_PACKAGES), {})[cid] = {
            "description": f"debian note {rng.randint(1, 10 ** 6)}",
            "scope": rng.choice(("local", "remote")),
        }
    tracker.setdefault(DEBIAN_PACKAGES[0], {})["TEMP-0000000-A1B2C3"] = {
        "description": "not yet assigned", "scope": "local"}
    files["debian"] = os.path.join(root, "debian_tracker.json")
    _write_json(files["debian"], tracker)
    n_rows["debian"] = len(t.present["debian"])

    rh = pick("redhat")
    files["redhat"] = os.path.join(root, "redhat")
    os.makedirs(files["redhat"], exist_ok=True)
    for p in range(0, len(rh), NVD_PAGE_SIZE):
        page = [
            {"cve": {"id": cid, "severity": rng.choice(("low", "moderate", "important", "critical")),
                     "public_date": f"2025-{rng.randint(1, 12):02d}-01T00:00:00Z"}}
            for cid in rh[p:p + NVD_PAGE_SIZE]
        ]
        _write_json(os.path.join(files["redhat"], f"page-{p // NVD_PAGE_SIZE:04d}.json"), {
            "totalResults": len(rh), "resultsPerPage": len(page), "vulnerabilities": page})
    n_rows["redhat"] = len(rh)

    org = pick("cveorg")
    half = len(org) // 2
    files["cveorg"] = os.path.join(root, "deltaLog.json")
    _write_json(files["cveorg"], [
        {"fetchTime": "2026-03-31T10:00:00.000Z", "numberOfChanges": half,
         "new": [{"cveId": c} for c in org[:half]], "updated": []},
        {"fetchTime": "2026-03-30T10:00:00.000Z", "numberOfChanges": len(org) - half,
         "new": [], "updated": [{"cveId": c} for c in org[half:]]},
    ])
    n_rows["cveorg"] = len(org)

    return Feeds(root, seed, n_ids, t, files, n_rows, next_id=n_ids)


# ------------------------------------------------------------ corpus
def _vocab(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qu", "ba", "do",
            "fe", "gi", "ho", "ju", "pe", "xi", "ya", "wu"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    path: str
    n_docs: int
    n_tokens: int
    clusters: int


def make_corpus(path: str, seed: int, n_docs: int, doc_len: tuple[int, int] = (60, 140)) -> Corpus:
    """Documents (doc_id, source, text) with planted near-dup clusters:
    a fifth of the base documents get one to three copies, each with one
    or two tokens replaced. Written as one parquet file.

    Assumption: the cluster rate, copy count and edit size are not taken
    from a measured corpus; they put about two fifths of the documents in
    a planted cluster, within the simhash radius (hamming <= 2) the pass
    uses. Tokens are drawn from a Zipf-weighted (s=0.5) vocabulary. A
    steeper skew (s=0.8) let the common tokens dominate the simhash of
    unrelated documents, which chained into one accidental component of
    200 to 970 documents; its diameter, and with it the number of
    component rounds (Spark jobs) of the pass, changed with the seed."""
    rng = random.Random(f"{seed}:corpus")
    vocab = _vocab(rng, 6000)
    weights = [1.0 / (r + 1) ** 0.5 for r in range(len(vocab))]
    texts: list[tuple[str, str]] = []
    clusters = 0
    while len(texts) < n_docs:
        toks = rng.choices(vocab, weights=weights, k=rng.randint(*doc_len))
        src = rng.choice(DOC_SOURCES)
        texts.append((src, " ".join(toks)))
        if rng.random() < 0.2:
            clusters += 1
            for _ in range(rng.randint(1, 3)):
                dup = list(toks)
                for _ in range(rng.randint(1, 2)):
                    dup[rng.randrange(len(dup))] = rng.choice(vocab)
                texts.append((rng.choice(DOC_SOURCES), " ".join(dup)))
    texts = texts[:n_docs]
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    rows = sorted(zip(ids, texts))
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "source": pa.array([r[1][0] for r in rows], pa.string()),
        "text": pa.array([r[1][1] for r in rows], pa.string()),
    })
    pq.write_table(table, path)
    return Corpus(path, n_docs, sum(len(r[1][1].split(" ")) for r in rows), clusters)


def lookup_keys(seed: int, ids: list[str], n: int, hot: int = 500) -> list[str]:
    """`n` lookup keys, Zipf-skewed toward a seeded hot set of `hot` ids.

    Assumption: no analyst access log is available, so the skew (s=1.1
    over 500 ids: the hottest key takes 19% of lookups, the top 10 51%)
    is chosen so that a per-key cache would hit often."""
    rng = random.Random(f"{seed}:lookups")
    ranked = rng.sample(sorted(ids), min(hot, len(ids)))
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(ranked))]
    return rng.choices(ranked, weights=weights, k=n)
