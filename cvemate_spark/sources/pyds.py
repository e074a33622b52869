"""Custom Python DataSource: the paginated-feed connector as a
first-class Spark source (Spark 4 Python Data Source API).

The reference fetches paginated REST feeds with a thread pool — one
thread per page (nvd_handler.py:50,102; redhat_handler.py:119-130).
The idiomatic Spark 4 form of that connector is a custom DataSource
whose `partitions()` enumerates the pages: every page becomes an
InputPartition, so the cluster scheduler (not a driver-side thread
pool) owns the parallelism, and a 1000-executor cluster pulls 1000
pages at once with retry/locality/speculation for free. The reader
yields plain tuples per record; Spark batches them through Arrow.

This is an ingestion connector for BOUNDED per-page payloads (API
pages are capped at a few thousand records), so the Python-side
per-record yield is not a hot scan path — the parquet/JSON readers
remain the bulk path. The page files here are the deterministic
landing pages (`landing.gen_nvd_pages`), standing in for the HTTP
responses exactly as in the file-based readers.
"""

from __future__ import annotations

import glob
import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .. import fsio

FORMAT_NAME = "cvemate_paged_feed"


class PagedFeedDataSource(DataSource):
    """`spark.read.format("cvemate_paged_feed").option("path", dir)`:
    each page-*.json file is one input partition."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return "id string, vendor string, page int"

    def reader(self, schema) -> "PagedFeedReader":
        return PagedFeedReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PagedFeedWriter":
        return PagedFeedWriter(self.options, overwrite)

    def streamReader(self, schema) -> "PagedFeedStreamReader":
        return PagedFeedStreamReader(self.options)


def _read_page(page_file: str, page_idx: int, options):
    """Load one page under the connector's rate-limit/retry hook
    (sources/ratelimit.py — the reference's @limits + bounded-retry
    loop, per task). Options: rate_calls/rate_period (per-task token
    bucket), retry_limit/retry_delay (bounded transient retry), and
    inject_fail_n — the deterministic stand-in for a throttling feed
    (first N attempts raise the transient 503-class error), exactly as
    the page FILES stand in for HTTP responses."""
    from .ratelimit import RetryableFeedError, fetch_with_retry, reader_hooks

    limiter, retries, delay = reader_hooks(options)
    inject = int(options.get("inject_fail_n", 0) or 0)
    attempts = {"n": 0}

    def fetch():
        attempts["n"] += 1
        if attempts["n"] <= inject:
            raise RetryableFeedError(status=503)
        with open(page_file) as f:
            return json.load(f)

    page = fetch_with_retry(fetch, retries=retries, delay=delay, limiter=limiter)
    for v in page.get("vulnerabilities", []):
        cve = v.get("cve", {})
        if cve.get("id") is not None:
            yield (cve["id"], cve.get("vendor"), page_idx)


class PagedFeedReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("cvemate_paged_feed requires option('path', ...)")
        self.path = path
        self.options = dict(options)

    def partitions(self):
        # one InputPartition per page file — the cluster-side analog of
        # the reference's page thread pool; (page_index, file) pairs so
        # the reader is self-contained per task
        pages = sorted(glob.glob(f"{self.path}/page-*.json"))
        if not pages:
            raise FileNotFoundError(f"no page-*.json under {self.path}")
        return [InputPartition((i, p)) for i, p in enumerate(pages)]

    def read(self, partition):
        page_idx, page_file = partition.value
        yield from _read_page(page_file, page_idx, self.options)


def register(spark) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(PagedFeedDataSource)


# ------------------------------------------------------------ writer
class PagedFeedWriter(DataSourceWriter):
    """Batch writer half of the connector (DataSourceWriter protocol):
    each task serializes its partition to one page shard, committing
    task results through Spark's commit protocol — the cluster-side
    form of the reference's batched POST-back (speculative/failed
    tasks abort cleanly, the job commit is all-or-nothing).

    Records must be (id, vendor, page) rows (the connector schema).
    Tasks write into a per-job `_staging-<token>` subdir (job-unique
    token minted on the driver, pickled to executors), so an in-flight
    write never disturbs the committed view. `commit()` then makes the
    swap: drop the `_SUCCESS` marker (readers treat unmarked dirs as
    absent), clear old shards when `overwrite` was requested, move the
    staged shards in, and re-write `_SUCCESS`. Shard names carry the
    job token, so append-mode jobs never collide with earlier shards.
    `abort()` removes only the staging dir — the committed view is
    untouched. An all-partitions-empty job still commits: an empty
    (or, with overwrite, cleared) directory with a fresh marker."""

    def __init__(self, options, overwrite: bool = False) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("cvemate_paged_feed write requires option('path')")
        self.overwrite = overwrite
        self.token = uuid.uuid4().hex[:12]

    def _staging(self) -> str:
        return f"{self.path}/_staging-{self.token}"

    def write(self, iterator):
        import json as _json
        import os as _os
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = [
            {"cve": {"id": r[0], "vendor": r[1]}, "page": r[2]} for r in iterator
        ]
        if not rows:
            return WriterCommitMessage()
        staging = self._staging()
        _os.makedirs(staging, exist_ok=True)
        out = f"{staging}/page-{pid:05d}-{self.token}.json"
        with fsio.atomic_file(out) as f:
            _json.dump({"vulnerabilities": rows}, f)
        return WriterCommitMessage()

    def commit(self, messages):
        import glob as _glob
        import os as _os

        _os.makedirs(self.path, exist_ok=True)
        success = f"{self.path}/_SUCCESS"
        if _os.path.exists(success):
            _os.remove(success)  # hide the dir while shards change
        if self.overwrite:
            for p in _glob.glob(f"{self.path}/page-*.json"):
                _os.remove(p)
        staging = self._staging()
        if _os.path.isdir(staging):
            for p in sorted(_glob.glob(f"{staging}/page-*.json")):
                fsio.publish_dir(p, f"{self.path}/{_os.path.basename(p)}")
            fsio.discard(staging)
        with fsio.atomic_file(success) as f:
            f.write("")

    def abort(self, messages):
        fsio.discard(self._staging())


# ------------------------------------------------------------ stream reader
class PagedFeedStreamReader(DataSourceStreamReader):
    """Streaming half of the connector (Spark 4 Python streaming data
    source): the reference's scheduled polling loop (SURVEY §3.2 — cron
    wakes, fetches pages after its watermark, merges) as a first-class
    Structured Streaming source.

    Offsets are page counts: pages land as contiguous `page-<n>.json`
    files (the deterministic stand-in for numbered API pages), so
    `latestOffset` is the length of the contiguous prefix on disk and a
    micro-batch covers pages [start, end) — one InputPartition per
    page, cluster-parallel exactly like the batch reader. Progress
    lives in the stream checkpoint (WAL'd offsets), so a restarted job
    resumes after the last COMMITTED page with no re-read and no gap —
    the engine-managed form of the reference's per-source watermark
    table. Replayed batches (crash between WAL and commit) re-read the
    same page range and yield identical rows: the landing files are
    immutable, so the source is exactly-once replayable."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("cvemate_paged_feed requires option('path', ...)")
        self.path = path
        self.options = dict(options)

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _available(self) -> int:
        import os as _os

        n = 0
        while _os.path.exists(f"{self.path}/page-{n}.json"):
            n += 1
        return n

    def latestOffset(self) -> dict:
        return {"page": self._available()}

    def partitions(self, start: dict, end: dict):
        return [
            InputPartition((i, f"{self.path}/page-{i}.json"))
            for i in range(start["page"], end["page"])
        ]

    def read(self, partition):
        page_idx, page_file = partition.value
        yield from _read_page(page_file, page_idx, self.options)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing external
