"""Where a bench tool writes its result.

Each committed bench artifact at the repository root is the record of
one run with stated inputs (data directory, bucket count, multiplier,
...). A run with other inputs, such as a smoke run on a small data
directory, must not replace it. A tool therefore names its committed
records together with the inputs each was recorded with, as tuples of
short tokens (`("sf1", "b256", "x1")`), and asks `artifact_path` where
a run goes: to the record whose inputs it repeats, or else to
`<stem>_<tokens>.json`, where the tokens are the run's inputs that
differ from the first (default) record's. A smoke run at sf0.01 with
otherwise default inputs thus writes `MERGEBENCH_sf0.01.json`.
"""

from __future__ import annotations

import os
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def data_token(sf_dir: str) -> str:
    """The token of a data directory: its base name (`sf0.1`)."""
    return os.path.basename(os.path.normpath(sf_dir))


def artifact_path(stem: str, records: dict[str, tuple], run: tuple) -> Path:
    for name, inputs in records.items():
        if inputs == run:
            return ROOT / name
    default = next(iter(records.values()))
    diff = [t for t, d in zip(run, default) if t != d]
    return ROOT / f"{stem}_{'_'.join(diff)}.json"
