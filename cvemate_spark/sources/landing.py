"""Deterministic feed lander: CveMate-shaped landing files from parquet.

The reference's ingestion side fetches feeds over HTTP and drops them
as files (CSV.gz, JSON catalogs, dict-of-dict JSON, zips of per-CVE
JSON, XML) before any processing. The engine's SRC-* readers start
from those landing files. To put every SRC-* reader under the DuckDB
correctness gate, this module *derives* landing files deterministically
from the driver parquet tables — pure-Python, sorted, versioned — so
an oracle SQL over the same parquet views predicts the reader output
exactly.

This is ingestion-side scaffolding (the stand-in for the reference's
HTTP fetchers, e.g. handlers/utils.py:59-96), not a query operator:
file generation is driver-side by nature, and file sizes are capped
(LIMITed) so they stay trivial at any scale factor.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import zipfile

import pyarrow.parquet as pq

from .. import SCRATCH_ROOT as SCRATCH, fsio

LANDING_VERSION = 4

EPSS_LIMIT = 2000
KEV_LIMIT = 500
MSF_LIMIT = 300
DEBIAN_LIMIT = 400
ZIP_LIMIT = 200
DELTA_LIMIT = 400

EPSS_MODEL_VERSION = "v2026.03.15"
EPSS_SCORE_DATE = "2026-03-15T12:00:00Z"
DELTA_WATERMARK = "2026-03-14T12:00:00"


def _source_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the source parquet tables.

    The landing cache used to be existence-only, keyed by
    LANDING_VERSION + sf-dir basename — so regenerated testdata (same
    path, new contents) silently served stale landing files and
    poisoned the oracle comparison. Keying the cache directory on
    (LANDING_VERSION, every parquet's name/size/mtime) makes any
    source change or generator bump produce a fresh directory; stale
    ones are just dead weight in .scratch.
    """
    h = hashlib.md5(str(LANDING_VERSION).encode())
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def landing_dir(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return f"{SCRATCH}/landing_{tag}_{_source_fingerprint(sf_dir)}"


def _rows(sf_dir: str, table: str, cols: list[str], key: str, limit: int) -> list[dict]:
    t = pq.read_table(f"{sf_dir}/{table}.parquet", columns=cols)
    rows = t.to_pylist()
    rows.sort(key=lambda r: r[key])
    return rows[:limit]


# ----------------------------------------------------------- SRC-6 EPSS
def gen_epss_csv(sf_dir: str) -> str:
    """Gzipped CSV with a '#' metadata comment line (epss_handler.py:72-151
    shape). Scores are pure string formats of ints so the oracle can
    rebuild the exact decimal strings in SQL. Every event_id % 97 == 0
    row has an empty percentile (exercises the completeness filter)."""
    out = f"{landing_dir(sf_dir)}/epss_scores.csv.gz"

    def build():
        rows = _rows(sf_dir, "events", ["event_id"], "event_id", EPSS_LIMIT)
        # gzip.open stamps the wall clock into the header MTIME field —
        # the same nondeterminism the zip generator had; pin mtime=0 so
        # regeneration is byte-identical (determinism law in test_new_ops)
        import io

        with fsio.atomic_file(out, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0
        ) as gz, io.TextIOWrapper(gz, newline="") as f:
            f.write(
                f"#model_version:{EPSS_MODEL_VERSION},score_date:{EPSS_SCORE_DATE}\n"
            )
            f.write("cve,epss,percentile\n")
            for r in rows:
                eid = r["event_id"]
                pct = "" if eid % 97 == 0 else f"0.{eid % 100:02d}"
                f.write(f"CVE-2024-{eid},0.{eid % 1000:03d},{pct}\n")

    fsio.build_once(out, build)
    return out


# ------------------------------------------------------- SRC-7 CISA KEV
def gen_kev_json(sf_dir: str) -> str:
    """KEV catalog JSON {catalogVersion, dateReleased, vulnerabilities[]}
    (cisa_handler.py:47-67 shape) from the first KEV_LIMIT orders."""
    out = f"{landing_dir(sf_dir)}/kev_catalog.json"

    def build():
        rows = _rows(
            sf_dir,
            "orders",
            ["o_orderkey", "o_orderstatus", "o_orderpriority"],
            "o_orderkey",
            KEV_LIMIT,
        )
        cat = {
            "catalogVersion": "2026.03.15",
            "dateReleased": "2026-03-15T00:00:00.000Z",
            "vulnerabilities": [
                {
                    "cveID": f"CVE-2020-{r['o_orderkey']}",
                    "vendorProject": r["o_orderstatus"],
                    "product": r["o_orderpriority"],
                }
                for r in rows
            ],
        }
        with fsio.atomic_file(out, "w") as f:
            json.dump(cat, f)

    fsio.build_once(out, build)
    return out


# ----------------------------------------------------- SRC-8 Metasploit
def gen_metasploit_json(sf_dir: str) -> str:
    """Module dict keyed by module path (metasploit_handler.py:61-77
    shape); each module lists one CVE and one non-CVE reference so the
    prefix filter is exercised."""
    out = f"{landing_dir(sf_dir)}/msf_modules.json"

    def build():
        rows = _rows(sf_dir, "orders", ["o_orderkey"], "o_orderkey", MSF_LIMIT)
        modules = {
            f"exploit/windows/mod_{r['o_orderkey']}": {
                "name": f"mod_{r['o_orderkey']}",
                "fullname": f"exploit/windows/mod_{r['o_orderkey']}",
                "rank": r["o_orderkey"] % 600,
                "disclosure_date": None,
                "references": [f"CVE-2020-{r['o_orderkey']}", f"OSVDB-{r['o_orderkey']}"],
            }
            for r in rows
        }
        with fsio.atomic_file(out, "w") as f:
            json.dump(modules, f)

    fsio.build_once(out, build)
    return out


# --------------------------------------------------------- SRC-8 Debian
def gen_debian_json(sf_dir: str) -> str:
    """Two-level dict {package: {cve_id: details}} (debian_handler.py:52-71
    shape): packages are nation names, CVEs come from customers."""
    out = f"{landing_dir(sf_dir)}/debian_tracker.json"

    def build():
        cust = _rows(
            sf_dir,
            "customer",
            ["c_custkey", "c_nationkey", "c_mktsegment"],
            "c_custkey",
            DEBIAN_LIMIT,
        )
        nations = {
            r["n_nationkey"]: r["n_name"]
            for r in _rows(sf_dir, "nation", ["n_nationkey", "n_name"], "n_nationkey", 10**6)
        }
        tracker: dict[str, dict] = {}
        for r in cust:
            pkg = nations[r["c_nationkey"]]
            tracker.setdefault(pkg, {})[f"CVE-2021-{r['c_custkey']}"] = {
                "description": r["c_mktsegment"],
                "scope": "local",
            }
        with fsio.atomic_file(out, "w") as f:
            json.dump(tracker, f)

    fsio.build_once(out, build)
    return out


# -------------------------------------------------- SRC-3 CVE.org zip
def gen_cveorg_zip(sf_dir: str) -> str:
    """Zip of one JSON file per CVE, named CVE-YYYY-NNNN.json, plus two
    decoys a real dump would carry (cveorg_handler.py:57-86 shape)."""
    out = f"{landing_dir(sf_dir)}/cveorg_dump.zip"

    def build():
        rows = _rows(sf_dir, "documents", ["doc_id", "n_chars"], "doc_id", ZIP_LIMIT)

        def entry(name: str) -> zipfile.ZipInfo:
            # writestr(name, ...) would stamp the CURRENT wall clock into
            # each member header, making two generations byte-differ when
            # they cross a second boundary — pin a fixed timestamp so the
            # archive is bit-deterministic (the determinism law in
            # tests/test_new_ops.py flaked exactly this way)
            return zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))

        with fsio.atomic_file(out, "wb") as raw, zipfile.ZipFile(raw, "w") as z:
            z.writestr(entry("notes.txt"), "not json\n")
            z.writestr(entry("summary.json"), json.dumps({"kind": "summary"}))
            for r in rows:
                cve = f"CVE-2019-{r['doc_id']:04d}"
                z.writestr(
                    entry(f"{cve}.json"),
                    json.dumps({"cveId": cve, "nChars": r["n_chars"]}),
                )

    fsio.build_once(out, build)
    return out


# ------------------------------------------------- SRC-4 delta log
def gen_delta_log(sf_dir: str) -> str:
    """deltaLog.json: newest record carries the first DELTA_LIMIT event
    ids split into new[]/updated[]; an older record re-lists a stale
    subset that the watermark predicate must exclude
    (cveorg_handler.py:119-156 shape)."""
    out = f"{landing_dir(sf_dir)}/deltaLog.json"

    def build():
        ids = [r["event_id"] for r in _rows(sf_dir, "events", ["event_id"], "event_id", DELTA_LIMIT)]
        recent = {
            "fetchTime": "2026-03-15T10:00:00.000Z",
            "new": [{"cveId": f"CVE-2024-{i}"} for i in ids if i % 2 == 0],
            "updated": [{"cveId": f"CVE-2024-{i}"} for i in ids if i % 2 == 1],
        }
        stale = {
            "fetchTime": "2026-03-13T10:00:00.000Z",
            "new": [{"cveId": f"CVE-2024-{i}"} for i in ids[:50]],
            "updated": [],
        }
        with fsio.atomic_file(out, "w") as f:
            json.dump([recent, stale], f)

    fsio.build_once(out, build)
    return out


# ----------------------------------------------------- SRC-9 CWE XML
def gen_cwe_xml(sf_dir: str) -> str:
    """CWE-catalog-shaped XML (cwe_handler.py:60-102 shape): one
    Weakness per nation, with namespaced tags, an xhtml-marked-up
    Description, and Related_Weaknesses pointing at the region."""
    out = f"{landing_dir(sf_dir)}/cwec.xml"

    def build():
        rows = _rows(
            sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"], "n_nationkey", 10**6
        )
        parts = [
            '<?xml version="1.0"?>',
            '<Weakness_Catalog xmlns="http://cwe.mitre.org/cwe-6" '
            'xmlns:xhtml="http://www.w3.org/1999/xhtml">',
            "<Weaknesses>",
        ]
        for r in rows:
            parts.append(
                f'<Weakness ID="{r["n_nationkey"]}" Name="{r["n_name"]}" '
                'Abstraction="Base">'
                f"<Description>In region <xhtml:b>{r['n_regionkey']}</xhtml:b>"
                " weakness</Description>"
                "<Related_Weaknesses>"
                f'<Related_Weakness Nature="ChildOf" CWE_ID="R{r["n_regionkey"]}"/>'
                "</Related_Weaknesses>"
                "</Weakness>"
            )
        parts += ["</Weaknesses>", "</Weakness_Catalog>"]
        with fsio.atomic_file(out, "w") as f:
            f.write("".join(parts))

    fsio.build_once(out, build)
    return out


NVD_LIMIT = 600
NVD_PAGES = 3


def _nvd_metrics(k: int) -> dict:
    """CVSS metric presence variants keyed by o_orderkey.

    k%4 selects which metric version(s) are present; k%4==3 is the
    tricky reference case (prioritizer_handler.py:30-36): V31 present
    but its baseScore absent AND V30 present with a score — the
    presence-gated selection must score this 0.0, never the V30 value.
    Oracle arithmetic: base = CASE WHEN k%4=3 THEN 0.0 ELSE (k%101)/10.0 END.
    """
    scored = {"cvssData": {"baseScore": (k % 101) / 10.0}}
    if k % 4 == 0:
        return {"cvssMetricV31": [scored]}
    if k % 4 == 1:
        return {"cvssMetricV30": [scored]}
    if k % 4 == 2:
        return {"cvssMetricV2": [scored]}
    return {"cvssMetricV31": [{"cvssData": {}}], "cvssMetricV30": [scored]}


def _nvd_weaknesses(k: int) -> list[dict]:
    """weaknesses[].description[].value CWE refs (real NVD nesting);
    every 7th record carries a Secondary ref too (array fan-out)."""
    w = [
        {
            "source": "nvd@nist.gov",
            "type": "Primary",
            "description": [{"lang": "en", "value": f"CWE-{k % 25}"}],
        }
    ]
    if k % 7 == 0:
        w.append(
            {
                "source": "secondary",
                "type": "Secondary",
                "description": [{"lang": "en", "value": f"CWE-{k % 5}"}],
            }
        )
    return w


def gen_nvd_pages(sf_dir: str) -> str:
    """NVD API page landing files: NVD_PAGES JSON files, each a
    {resultsPerPage, vulnerabilities: [{cve: {...}}]} page
    (nvd_handler.py:99-115 shape). Records carry the metric-presence
    variants and weaknesses[] CWE refs so the scoring and cwe-enrich
    gates run on reference-shaped payloads. Ids share the CVE-2020-*
    space with the KEV/Metasploit/RedHat landings so the wide
    cve_pipeline merge has genuinely overlapping keys.
    Returns the landing directory."""
    out_dir = f"{landing_dir(sf_dir)}/nvd_pages"

    def build():
        os.makedirs(out_dir)
        rows = _rows(sf_dir, "orders", ["o_orderkey", "o_orderstatus"], "o_orderkey", NVD_LIMIT)
        for p in range(NVD_PAGES):
            vulns = [
                {
                    "cve": {
                        "id": f"CVE-2020-{r['o_orderkey']}",
                        "vendor": r["o_orderstatus"],
                        "metrics": _nvd_metrics(r["o_orderkey"]),
                        "weaknesses": _nvd_weaknesses(r["o_orderkey"]),
                    }
                }
                for i, r in enumerate(rows)
                if i % NVD_PAGES == p
            ]
            with open(f"{out_dir}/page-{p}.json", "w") as f:
                json.dump({"resultsPerPage": len(vulns), "vulnerabilities": vulns}, f)

    fsio.build_once(out_dir, build)
    return out_dir


REDHAT_LIMIT = 100
REDHAT_PAGES = 2
REDHAT_SEVERITIES = ["low", "moderate", "important", "critical"]


def gen_redhat_pages(sf_dir: str) -> str:
    """RedHat hydra securitydata page landing files (SRC-2 shape:
    redhat_handler.py:62-101): REDHAT_PAGES JSON files, each
    {totalResults, resultsPerPage, vulnerabilities: [{cve: {...}}]} —
    the same paginated envelope as NVD but RedHat's own payload fields
    (severity, public_date). Pagination/rate-limit/retry stay
    ingestion-side exactly as in the reference (threads + ratelimit
    there). Ids come from supplier keys in the shared CVE-2020-* space.
    """
    out_dir = f"{landing_dir(sf_dir)}/redhat_pages"

    def build():
        os.makedirs(out_dir)
        rows = _rows(sf_dir, "supplier", ["s_suppkey"], "s_suppkey", REDHAT_LIMIT)
        for p in range(REDHAT_PAGES):
            vulns = [
                {
                    "cve": {
                        "id": f"CVE-2020-{r['s_suppkey']}",
                        "severity": REDHAT_SEVERITIES[r["s_suppkey"] % 4],
                        "public_date": f"2025-{r['s_suppkey'] % 12 + 1:02d}-01T00:00:00Z",
                    }
                }
                for i, r in enumerate(rows)
                if i % REDHAT_PAGES == p
            ]
            with open(f"{out_dir}/page-{p}.json", "w") as f:
                json.dump(
                    {
                        "totalResults": len(rows),
                        "resultsPerPage": len(vulns),
                        "vulnerabilities": vulns,
                    },
                    f,
                )

    fsio.build_once(out_dir, build)
    return out_dir


EXPLOITDB_LIMIT = 400


def gen_exploitdb_csv(sf_dir: str) -> str:
    """files_exploits.csv shape (exploitdb_handler.py:48-64): one row
    per exploit with a ';'-joined `codes` column mixing CVE and
    non-CVE identifiers; every 3rd row lists two CVEs."""
    out = f"{landing_dir(sf_dir)}/files_exploits.csv"

    def build():
        rows = _rows(sf_dir, "part", ["p_partkey"], "p_partkey", EXPLOITDB_LIMIT)
        with fsio.atomic_file(out) as f:
            f.write("id,file,description,codes\n")
            for r in rows:
                k = r["p_partkey"]
                codes = f"CVE-2022-{k};OSVDB-{k}"
                if k % 3 == 0:
                    codes += f";CVE-2023-{k}"
                f.write(f"{k},exploits/x_{k}.py,exploit {k},{codes}\n")

    fsio.build_once(out, build)
    return out


def gen_png_files(sf_dir: str, limit: int = 200) -> str:
    """A directory of REAL standalone PNG files, one per document (the
    first `limit` by doc_id) — the landing shape a 100-TB multimodal
    corpus actually has: media as individual objects in a store, not
    rows in a table. Each file is named doc_<id>.png and encodes a
    constant image whose dims/value derive from the doc's text length
    (the mm_png construction rule), so an oracle can recompute every
    decoded feature from the documents table. Written once per landing
    fingerprint; the build's marker commits the whole directory."""
    out = f"{landing_dir(sf_dir)}/png_files"

    def build():
        import numpy as np

        from ..operators.multimodal import png_encode

        os.makedirs(out)
        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pylist()
        t.sort(key=lambda r: r["doc_id"])
        for r in t[:limit]:
            k = len(r["text"].encode("utf-8"))
            png = png_encode(
                np.full((k % 5 + 1, k % 9 + 1, 3), k % 256, dtype=np.uint8)
            )
            with open(f"{out}/doc_{r['doc_id']}.png", "wb") as f:
                f.write(png)

    fsio.build_once(out, build)
    return out


def gen_orc_documents(sf_dir: str) -> str:
    """ORC copy of the documents table (pyarrow ORC writer, done once
    per landing fingerprint) — the landing file for src_orc, proving
    the engine's columnar-format breadth beyond parquet (Spark's ORC
    reader supports the same pushdown/pruning surface)."""
    out = f"{landing_dir(sf_dir)}/documents.orc"

    def build():
        import pyarrow.orc as po
        import pyarrow.parquet as pq

        with fsio.atomic_file(out, "wb") as f:
            po.write_table(pq.read_table(f"{sf_dir}/documents.parquet"), f)

    fsio.build_once(out, build)
    return out
