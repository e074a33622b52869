"""Query registry plumbing + shared determinism helpers.

Determinism contract (SURVEY.md §2.12):
- every query ends with a total ORDER BY over its output columns
- outputs are scalar columns only (flatten structs/arrays first)
- floating aggregates: exact DECIMAL(18,2) arithmetic where the data
  allows (all money columns in the testdata are 2-decimal doubles),
  cast to DOUBLE at the very end; true rounding only via ROUND(x, 4)
- timestamps rendered with date_format(..., 'yyyy-MM-dd HH:mm:ss')
- column names aliased identically in the Spark plan and oracle SQL
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# Queries that stage a table (versioned, bucketed, catalog) cache it
# under `.scratch/` at the repository root, keyed on the input file's
# identity plus ONE layout epoch. Bump the epoch whenever an on-disk
# layout those tables use changes: every cache then rebuilds from zero
# instead of being read under the new code. Epoch 2: manifest roots
# are always sharded (format 2), monolithic roots no longer load.
# Epoch 3: `e_merge_scoped` stages a versioned table where it staged
# an unversioned bucket table.
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)
LAYOUT_EPOCH = 3


def scratch_dir(sf_dir: str, table: str, prefix: str) -> str:
    """`.scratch/<prefix>_<key>`: the cache dir for a table staged from
    `sf_dir/<table>.parquet` under the current LAYOUT_EPOCH."""
    st = os.stat(f"{sf_dir}/{table}.parquet")
    key = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}:layout-{LAYOUT_EPOCH}"
        .encode()
    ).hexdigest()[:12]
    return os.path.join(SCRATCH_ROOT, f"{prefix}_{key}")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: SparkBuilder
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""


class Registry:
    def __init__(self) -> None:
        self.specs: dict[str, QuerySpec] = {}

    def add(
        self,
        name: str,
        oracle: str | None,
        tags: tuple[str, ...] = (),
        doc: str = "",
    ) -> Callable[[SparkBuilder], SparkBuilder]:
        def deco(fn: SparkBuilder) -> SparkBuilder:
            self.specs[name] = QuerySpec(name, fn, oracle, tags, doc or (fn.__doc__ or ""))
            return fn

        return deco

    def merge(self, other: "Registry") -> None:
        overlap = self.specs.keys() & other.specs.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        self.specs.update(other.specs)
