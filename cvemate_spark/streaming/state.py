"""Watermark + CDC state: the `update_status` table (ST-2/ST-5).

The reference keeps one row per data source with `last_updated` (its
pipeline watermark) and `source_last_update` (upstream freshness) —
`handlers/mongodb_handler.py:212-225, 261-277, 291-307`. Here it is a
tiny JSON state file updated by the driver between batches, the
batch-incremental sibling of a Structured Streaming checkpoint. The
incremental predicate (`lastModStartDate <= t <= lastModEndDate`,
nvd_handler.py:139-164) becomes a pushed-down timestamp filter.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, functions as F

from .. import fsio

DEFAULT_LOOKBACK_HOURS = 24  # nvd_handler.py:143-147 fallback window


class StatusStore:
    """One watermark row per source, persisted as JSON."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._data: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._data = json.load(f)

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with fsio.atomic_file(self.path) as f:
            json.dump(self._data, f, indent=1, sort_keys=True)

    # mongodb_handler.py:261-277
    def last_update_time(self, source: str) -> datetime | None:
        iso = self._data.get(source, {}).get("last_updated")
        return datetime.fromisoformat(iso) if iso else None

    # mongodb_handler.py:212-225
    def update_status(self, source: str, now: datetime | None = None) -> None:
        now = now or datetime.now(timezone.utc)
        self._data.setdefault(source, {})["last_updated"] = now.isoformat()
        self._save()

    # mongodb_handler.py:291-307
    def update_source_status(self, source: str, source_last_update: str) -> None:
        self._data.setdefault(source, {})["source_last_update"] = source_last_update
        self._save()

    def source_last_update(self, source: str) -> str | None:
        return self._data.get(source, {}).get("source_last_update")

    # ST-5 CDC gate: skip the whole source when upstream is unchanged
    # (exploitdb_handler.py:38-45 / epss_handler.py:111-120 shape)
    def should_refresh(self, source: str, upstream_stamp: str) -> bool:
        return self.source_last_update(source) != upstream_stamp


def reload_or_delta(
    last_update: datetime | None, delta_fetch_times: list[datetime]
) -> str:
    """ST-4: full-reload-vs-delta decision (cveorg_handler.py:119-156).

    The reference downloads deltaLog.json, takes the OLDEST fetchTime
    in it, and falls back to a full re-init when its watermark predates
    that — the delta log no longer covers the gap since the last run.
    Returns 'full' or 'delta'; 'full' also when there is no watermark
    (first run, cveorg_handler.py:104-108) or the delta log is empty
    (nothing proves coverage).
    """
    if last_update is None or not delta_fetch_times:
        return "full"
    return "full" if last_update < min(delta_fetch_times) else "delta"


def watermark_window(
    store: StatusStore, source: str, now: datetime, lookback_hours: int = DEFAULT_LOOKBACK_HOURS
) -> tuple[datetime, datetime]:
    """[last_update | now - lookback, now] — nvd_handler.py:139-150."""
    start = store.last_update_time(source) or (now - timedelta(hours=lookback_hours))
    return start, now


def incremental_filter(df: DataFrame, ts_col: str, start: datetime, end: datetime) -> DataFrame:
    """The watermark predicate as a pushed-down filter (OP-FILT-4)."""
    return df.filter(
        (F.col(ts_col) > F.lit(start)) & (F.col(ts_col) <= F.lit(end))
    )
