"""cvemate_spark — a PySpark-native analytics engine.

From-scratch engine with the query and data-processing capabilities of
pl0psec/CveMate (reference at /root/reference, read-only), re-expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, Structured
Streaming for incremental semantics, Pandas UDFs only where built-in
operators cannot express the semantics.

Layout:
    session      SparkSession factory tuned for local[N] test runs
    tables       loaders for the driver test parquet tables
    operators/   merge (keyed upsert), dedup, similarity, windows
    sources/     normalizers for the reference's feed formats
    functions/   scalar function library (text, scoring, json)
    streaming/   structured-streaming queries (tumbling/sliding/merge)
    queries/     the declared query surface (SURVEY.md §2.12) + oracles
"""

import os

__version__ = "0.1.0"

# Derived caches (staged tables, landing files, stream state) live
# under `.scratch/` at the repository root, resolved from this file: a
# copy of the repository reads and writes its own caches.
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
