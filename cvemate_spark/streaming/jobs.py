"""Structured Streaming jobs: S1 tumbling, S2 sliding, S3 foreachBatch MERGE.

The reference is a cron-looped micro-batch pipeline (SURVEY §2.10);
these jobs are its Structured-Streaming form, run hermetically with
`availableNow` triggers so every test run processes the whole input
and terminates. Streams read the driver's events parquet as a file
source; watermarks + window aggregations cover ST-1/ST-2, and the
S3 job proves ST-3 (late/out-of-order data) by replaying unordered
chunks through a foreachBatch keyed MERGE that converges to the same
table as the batch keep-latest query (Q20).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import SCRATCH_ROOT as SCRATCH, fsio
from ..operators.merge import keep_latest_merge, read_target, write_atomic
from ..tables import _ensure_session_confs

# schema of the staged (micros-normalized) events parquet — file-source
# streams require an explicit schema
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _stage_events(sf_dir: str) -> str:
    """Stage the events parquet into a scratch dir for file-source
    streams, normalizing the on-disk timestamp unit to
    TIMESTAMP(MICROS).

    The cache key is the SOURCE FILE's path+size+mtime — not the path
    alone, which would silently serve a stale copy after the testdata
    is regenerated in place (same staleness hole the landing cache
    had). The unit normalization makes the streams independent of the
    generator's parquet timestamp unit (it has shipped both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds): nanos is
    cast with truncation, exactly DuckDB's nanos→micros behavior and
    the batch loader's `ts div 1000`.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    stage_key = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}:us-v2".encode()
    ).hexdigest()[:12]
    stage = f"{SCRATCH}/events_src_{stage_key}"
    if not os.path.exists(stage):
        tmp = f"{stage}.tmp-{os.getpid()}"
        fsio.discard(tmp)
        os.makedirs(tmp)
        tbl = pq.read_table(src)
        i = tbl.schema.get_field_index("ts")
        if tbl.schema.field(i).type != pa.timestamp("us"):
            tbl = tbl.set_column(
                i, "ts", tbl.column("ts").cast(pa.timestamp("us"), safe=False)
            )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        fsio.publish_dir(tmp, stage)  # a concurrent stager's win stands
    return stage


def _chunked_landing(spark: SparkSession, sf_dir: str, n_chunks: int = 2) -> str:
    """The S3-style chunked event landing (event_id % n_chunks
    interleaves in time = out-of-order arrival), content-keyed and
    shared across S3/S14/S15/S16 — built once per testdata generation.

    This is the ONLY producer of the ``s3_in_<key>`` cache dir: the
    replay/merge job and every sketch-state stream (streaming/drift.py)
    consume the same landing, so the chunk layout and cache key can
    never diverge between producers.
    """
    stage = _stage_events(sf_dir)
    st = os.stat(f"{sf_dir}/events.parquet")
    in_key = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}:{n_chunks}:us-v2".encode()
    ).hexdigest()[:12]
    in_dir = f"{SCRATCH}/s3_in_{in_key}"
    if not os.path.exists(in_dir):
        tmp = f"{in_dir}.tmp-{os.getpid()}"
        fsio.discard(tmp)
        ev = spark.read.parquet(stage)  # micros-normalized
        # one partitioned write (not one job per chunk); the partition
        # dirs then become the arrival-ordered landing files
        chunks_dir = f"{tmp}/chunks"
        ev.withColumn("__chunk", F.col("event_id") % n_chunks).repartition(
            n_chunks, "__chunk"
        ).write.partitionBy("__chunk").mode("overwrite").parquet(chunks_dir)
        for i in range(n_chunks):
            parts = sorted(glob.glob(f"{chunks_dir}/__chunk={i}/part-*.parquet"))
            for j, part in enumerate(parts):
                shutil.copy(part, f"{tmp}/chunk{i}_{j}.parquet")
        fsio.discard(chunks_dir)
        fsio.publish_dir(tmp, in_dir)  # a concurrent builder's win stands
    return in_dir


def _events_stream(spark: SparkSession, sf_dir: str, **options) -> DataFrame:
    """File-source stream over the staged events parquet."""
    _ensure_session_confs(spark)
    stage = _stage_events(sf_dir)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(stage)


def _run_to_memory(agg: DataFrame, name: str) -> None:
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: 1-hour tumbling window counts per event_type.

    Watermarked for the production append-mode path; the hermetic test
    run uses complete mode so the tail window is emitted too, making
    the availableNow result equal the batch date_trunc rewrite.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    _run_to_memory(agg, "s1_sink")
    return spark.table("s1_sink").select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: 1-hour window sliding every 15 minutes, per event_type."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    _run_to_memory(agg, "s2_sink")
    return spark.table("s2_sink").select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    )


def replay_merge(spark: SparkSession, sf_dir: str, n_chunks: int = 2) -> DataFrame:
    """S3: replay events in unordered chunks through a foreachBatch MERGE.

    The input is split into chunk files (by event_id % n_chunks, so
    chunks interleave in time = out-of-order arrival); a file-source
    stream feeds them one file per micro-batch into a keyed
    keep-latest MERGE against a parquet target with atomic swap.
    The merge is commutative, so any batch order converges to Q20.
    """
    _ensure_session_confs(spark)
    # The chunked landing files are pure test scaffolding (the stand-in
    # for out-of-order feed arrival), deterministic given (source,
    # n_chunks) — staged ONCE by the shared content-keyed producer.
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    # per-run state: pid-keyed so a concurrent oracle check and pytest
    # run don't race on the same target/checkpoint paths (observed as a
    # transient mismatch when both ran at once)
    run_dir = f"{SCRATCH}/s3_{os.getpid()}"
    target, ckpt = f"{run_dir}/target", f"{run_dir}/ckpt"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        current = read_target(batch.sparkSession, target)
        merged = keep_latest_merge(
            current,
            batch,
            keys=["user_id", "event_type"],
            order_by=[F.desc("ts"), F.desc("event_id")],
        )
        write_atomic(merged, target)

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(target).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def scoped_replay_versioned(
    spark: SparkSession, sf_dir: str, n_chunks: int = 2
) -> DataFrame:
    """S18: the S3 out-of-order replay landing through bucket-scoped
    merges into the VERSIONED table (merge_scoped_versioned) — the
    CDC-into-a-bucketed-table shape a 100 TB ingest runs. Each
    micro-batch reads and re-ranks only the buckets holding its users.
    Scoping is sound for the per-(user_id, event_type) keep-latest
    window because the bucket key (user_id) functionally determines the
    window partition key's bucket: every row that can compete with a
    batch row lives in that row's own bucket. Every micro-batch is one
    atomic cross-bucket commit, so a downstream reader racing the
    replay always sees a complete batch boundary (version n = exactly
    the first n-1 batches applied), never a half-merged mix of bucket
    directories, and any intermediate state remains time-travelable
    for replay debugging. Same keep-latest CDC semantics and the same
    batch Q20 convergence oracle as S3; per-batch write cost is
    still bounded by the batch's bucket footprint (new generations for
    touched buckets only + one manifest/pointer commit).
    """
    from ..operators.merge import keep_latest_merge
    from ..operators.merge_versioned import (
        init_bucket_table_versioned,
        latest_version,
        merge_scoped_versioned,
        read_bucket_table_versioned,
    )

    _ensure_session_confs(spark)
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    run_dir = f"{SCRATCH}/s18_{os.getpid()}"
    target, ckpt = f"{run_dir}/target", f"{run_dir}/ckpt"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    init_bucket_table_versioned(target, key="user_id", n_buckets=16)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_scoped_versioned(
            batch.sparkSession,
            target,
            batch,
            merger=lambda cur, b: keep_latest_merge(
                cur,
                b,
                keys=["user_id", "event_type"],
                order_by=[F.desc("ts"), F.desc("event_id")],
            ),
        )

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the commit history IS the batch history: empty init + one
    # version per micro-batch, every boundary time-travelable
    assert latest_version(target) == 1 + n_chunks
    return read_bucket_table_versioned(spark, target).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def wap_replay(
    spark: SparkSession, sf_dir: str, n_chunks: int = 2
) -> DataFrame:
    """S22: the S18 versioned CDC replay STAGED on a catalog branch —
    streaming write-audit-publish (operators/catalog.py branch block).

    Same chunked out-of-order landing, keep-latest semantics, and
    batch Q20 convergence oracle as S3/S18, but every micro-batch
    lands through `branch_txn` on branch 'ingest': the table-level
    commits are identical to S18's (bucket-scoped generations + one
    manifest/pointer per batch — cost ∝ batch footprint), yet only the
    BRANCH manifests pin the new versions. The MAIN catalog keeps
    serving the pre-stream snapshot through the entire drain — a
    consumer resolving through the catalog never sees a half-replayed
    feed, which is exactly the gap the reference's streaming handlers
    have (each bulk_write is instantly live, mongodb_handler.py). The
    post-drain AUDIT runs on the branch read; only then does
    `publish_branch` advance main — one pointer replace regardless of
    how many micro-batches were staged, fast-forward because main
    never moved. An audit failure would `drop_branch` instead: main
    never exposed, staged generations reclaimed by vacuum. The
    builder asserts main's catalog read is EMPTY after the full drain
    (pre-publish) — staging isolation at stream scale, not just in
    unit tests.
    """
    from ..operators.catalog import (
        branch_txn,
        catalog_branch,
        catalog_init,
        catalog_latest,
        catalog_read,
        catalog_txn,
        publish_branch,
        read_branch,
    )
    from ..operators.merge import keep_latest_merge
    from ..operators.merge_versioned import (
        init_bucket_table_versioned,
        merge_scoped_versioned,
    )

    _ensure_session_confs(spark)
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    run_dir = f"{SCRATCH}/s22_{os.getpid()}"
    target, ckpt = f"{run_dir}/target", f"{run_dir}/ckpt"
    cat = f"{run_dir}/cat"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    init_bucket_table_versioned(target, key="user_id", n_buckets=16)
    catalog_init(cat)
    catalog_txn(spark, cat, {"events": target})  # cat v2 pins v1 empty
    main_v = catalog_latest(cat)
    catalog_branch(cat, "ingest")

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        branch_txn(
            batch.sparkSession, cat, "ingest",
            {"events": lambda sk, p: merge_scoped_versioned(
                sk, p, batch,
                merger=lambda cur, b: keep_latest_merge(
                    cur,
                    b,
                    keys=["user_id", "event_type"],
                    order_by=[F.desc("ts"), F.desc("event_id")],
                ),
            )},
        )

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # staging isolation at stream scale: the whole feed drained and
    # MAIN still serves the pre-stream (empty) snapshot
    assert catalog_latest(cat) == main_v
    try:
        n_main = catalog_read(spark, cat, "events").count()
    except FileNotFoundError:
        n_main = 0  # the metadata-only empty init has no generations
    assert n_main == 0, f"staged rows leaked into main: {n_main}"
    # AUDIT on the branch read, then the one-pointer publish
    staged = read_branch(spark, cat, "ingest", "events")
    assert staged.count() > 0
    pub = publish_branch(spark, cat, "ingest")
    assert pub["fast_forward"] is True
    return catalog_read(spark, cat, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def mor_replay(
    spark: SparkSession, sf_dir: str, n_chunks: int = 2
) -> DataFrame:
    """S20: the S18 CDC replay landing through MERGE-ON-READ deltas —
    the write-amplification fix for high-frequency micro-batches.

    S18 pays (touched-bucket bytes) per micro-batch: every chunk
    re-reads and rewrites the bucket directories its users hash into,
    so N small batches cost N x bucket-size even when each batch is a
    few rows (MERGEBENCH: a 20-row batch rewrites 1.2 MB CoW vs 30 KB
    MOR). Here the target records a keep-latest FOLD POLICY
    (mor_fold: keys=(user_id, event_type), order_by=(ts desc,
    event_id desc)) and each micro-batch lands verbatim as per-bucket
    delta generations via `merge_scoped_versioned_mor` — no target
    read, no window, no rewrite, one atomic commit per batch, still
    time-travelable per batch boundary. Reads rank whole rows by the
    INTRINSIC comparator (not arrival order), which is exactly what
    makes the out-of-order replay converge: a late chunk carrying an
    older event loses at read time just as it would have lost in the
    CoW merger. A closing `compact_versioned` folds the chains back
    to one generation per bucket (the off-peak cadence; delta chains
    also self-level at max_depth). Convergence oracle: batch Q20
    keep-latest — the same oracle as S3/S18, so the hash proves
    MOR replay ≡ CoW replay ≡ batch.
    """
    from ..operators.merge_versioned import (
        compact_versioned,
        init_bucket_table_versioned,
        latest_version,
        merge_scoped_versioned_mor,
        read_bucket_table_versioned,
    )

    _ensure_session_confs(spark)
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    run_dir = f"{SCRATCH}/s20_{os.getpid()}"
    target, ckpt = f"{run_dir}/target", f"{run_dir}/ckpt"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    init_bucket_table_versioned(
        target, key="user_id", n_buckets=16,
        mor_fold={
            "keys": ["user_id", "event_type"],
            "order_by": [["ts", "desc"], ["event_id", "desc"]],
        },
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_scoped_versioned_mor(batch.sparkSession, target, batch)

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # empty init + one version per micro-batch + the compaction commit
    assert latest_version(target) == 1 + n_chunks
    compact_versioned(spark, target)
    assert latest_version(target) == 2 + n_chunks
    return read_bucket_table_versioned(spark, target).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def mor_compact_race(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """S21: the S20 continuous MOR ingestion COMPOSING with a periodic
    `compact_versioned` racing it from outside (VERDICT r11 item 5) —
    the production pattern: a foreachBatch feed appending delta
    generations while an off-peak maintenance job folds chains on the
    same table.

    The race is injected deterministically through the OCC pre-commit
    seam: inside the second micro-batch's window (after its delta
    generations are staged, before commit validation) a compactor
    folds the first batch's chains and commits. That MOVES the touched
    buckets' base generations, which is a HARD conflict under the
    ordinal-compose rules (compose only covers an extended chain over
    an unmoved base), so the appender must abandon the staged chain
    refs and RE-LAND on the compacted base — never composing onto a
    stale chain, never losing rows. The builder asserts the retry
    actually happened and the version ledger carries exactly
    init + one commit per batch + the mid-window compact + the
    closing compact.

    Convergence oracle: batch Q20 keep-latest, same as S3/S18/S20
    — the hash proves the interleaved run ≡ CoW replay ≡ batch."""
    from ..operators.merge_versioned import (
        compact_versioned,
        init_bucket_table_versioned,
        latest_version,
        merge_scoped_versioned_mor,
        read_bucket_table_versioned,
    )

    _ensure_session_confs(spark)
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    run_dir = f"{SCRATCH}/s21_{os.getpid()}"
    target, ckpt = f"{run_dir}/target", f"{run_dir}/ckpt"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    init_bucket_table_versioned(
        target, key="user_id", n_buckets=16,
        mor_fold={
            "keys": ["user_id", "event_type"],
            "order_by": [["ts", "desc"], ["event_id", "desc"]],
        },
    )

    race = {"fired": False, "retries": 0}

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        def hook():
            # the compactor fires ONCE, inside the third batch's OCC
            # window: batch 1 lands BASE generations on the empty
            # table and batch 2 the first real delta chains — only
            # then does compact have something to fold and commit
            # (a no-op compact would not race anything)
            if not race["fired"] and latest_version(target) >= 3:
                race["fired"] = True
                compact_versioned(batch.sparkSession, target)

        res = merge_scoped_versioned_mor(
            batch.sparkSession, target, batch,
            occ=True, max_retries=4, pre_commit_hook=hook,
        )
        race["retries"] += res["attempts"] - 1

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert race["fired"], "the compactor never entered the race window"
    assert race["retries"] >= 1, (
        "the compact commit landed inside an append's OCC window but "
        "forced no re-land — the hard-conflict rule did not fire"
    )
    # init + n_chunks batch commits + mid-window compact + closing one
    assert latest_version(target) == 2 + n_chunks
    compact_versioned(spark, target)
    assert latest_version(target) == 3 + n_chunks
    return read_bucket_table_versioned(spark, target).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def feed_replica(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """S19: the CONSUMER side of the CDC story — a downstream replica
    maintained purely from change feeds with a VERSION checkpoint,
    surviving a crash between apply and checkpoint advance.

    Producer: the S18 shape (chunked out-of-order events keep-latest
    merged into the versioned table, one atomic commit per chunk —
    driven as batch merges here; the streaming form is S18 itself).
    Consumer loop per poll: read the replica's APPLIED VERSION from
    the metadata co-located inside the replica directory
    (write_atomic(meta=...) — the version marker moves in the SAME
    rename as the rows it describes), pull `change_feed(applied,
    latest)` under the composite (user_id, event_type) key, apply it
    with `apply_change_feed`, and persist replica + new version marker
    in one atomic swap. The first poll is KILLED immediately after the
    swap — the worst crash point the protocol has left — and recovery
    is trivially exact: the marker that survived IS the version the
    surviving rows hold, so the next poll's span starts precisely
    there. A checkpoint stored OUTSIDE the swap (the pre-round-10
    design) reopens an A-B-A hole: replica at version N, checkpoint at
    M < N, and a key reverted between M and N (value@N == value@M) is
    classified nochange by the redelivered feed — omitted — so the
    replica would keep its stale intermediate value forever. The law
    pinning this is tests/test_merge_versioned.py::
    test_feed_replica_aba_revert_converges. Convergence oracle: the
    replica equals batch Q20 keep-latest over all events (the same
    oracle as S3/S18).

    Scale: each poll reads changed buckets' generations only (feed
    cost ∝ commits since the checkpoint, not the table) and rewrites
    the replica — a real deployment would keep the replica bucketed
    and merge instead of write_atomic, but the CONSUMPTION path under
    test is identical.
    """
    from ..operators.merge import (
        keep_latest_merge,
        read_replica_meta,
        write_atomic,
    )
    from ..operators.merge_versioned import (
        apply_change_feed,
        change_feed,
        init_bucket_table_versioned,
        latest_version,
        merge_scoped_versioned,
    )

    _ensure_session_confs(spark)
    in_dir = _chunked_landing(spark, sf_dir, n_chunks=n_chunks)

    run_dir = f"{SCRATCH}/s19_{os.getpid()}"
    src, replica = f"{run_dir}/src", f"{run_dir}/replica"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    init_bucket_table_versioned(src, key="user_id", n_buckets=16)

    keys = ["user_id", "event_type"]
    merger = lambda cur, b: keep_latest_merge(  # noqa: E731
        cur, b, keys=keys, order_by=[F.desc("ts"), F.desc("event_id")]
    )

    def produce(chunk: int) -> None:
        batch = spark.read.schema(EVENTS_SCHEMA).parquet(
            *sorted(glob.glob(f"{in_dir}/chunk{chunk}_*.parquet"))
        )
        merge_scoped_versioned(spark, src, batch, merger=merger)

    def consume(crash_after_swap: bool = False) -> None:
        m = read_replica_meta(replica)
        applied = m["applied_version"] if m else 1
        v = latest_version(src)
        if v > applied:
            feed = change_feed(spark, src, applied, v, key=keys)
            cur = (
                spark.read.parquet(replica)
                if os.path.exists(replica)
                else None
            )
            if feed is not None:
                out = apply_change_feed(cur, feed, keys)
            elif cur is None:
                return  # nothing changed, nothing held: no-op poll
            else:
                out = cur  # content unchanged; the marker still advances
            # the replica is batch-sized here; 32 shuffle-partition
            # output files would be pure task overhead per poll (a
            # production replica is a bucketed table and merges
            # instead of rewriting)
            write_atomic(
                out.coalesce(4), replica, meta={"applied_version": v}
            )
        if crash_after_swap:
            return  # simulated kill: marker + rows already consistent

    produce(0)
    consume(crash_after_swap=True)  # marker moved WITH the rows
    produce(1)
    consume()  # span starts at the replica's own version: no overlap
    produce(2)
    consume()
    # up-to-date consumer: manifest arithmetic alone, no data read
    assert (
        change_feed(spark, src, latest_version(src), key=keys) is None
    )
    assert read_replica_meta(replica)["applied_version"] == latest_version(
        src
    )
    out = spark.read.parquet(replica).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    return out


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: streaming deduplication — dropDuplicates on the key columns
    with state-store backing, the streaming form of the exact-dedup
    operator (first arrival per key wins; we emit only the keys, so the
    hermetic availableNow result equals batch DISTINCT regardless of
    partition arrival order).

    Scale note: unbounded dropDuplicates keeps every key in the state
    store forever. The production form for event streams is
    dropDuplicatesWithinWatermark (state evicted once the watermark
    passes each key's event time — bounded by the late-data horizon,
    not the key cardinality); covered in tests/test_state.py since its
    output depends on arrival order when a key recurs beyond the
    watermark, which a batch oracle can't pin.
    """
    ev = _events_stream(spark, sf_dir)
    dd = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName("s6_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("s6_sink")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: watermarked stream-stream inner join — click→purchase
    attribution per user within a 1-hour window.

    Both sides carry an event-time watermark and the join predicate
    bounds purchase time to [click, click + 1h], so Spark can size the
    join state to the watermark horizon and evict rows once they can
    no longer match — the bounded-state form that survives unbounded
    streams (an unconstrained stream-stream join would buffer both
    streams forever). Under availableNow the inner join emits exactly
    the batch time-range join, arrival order notwithstanding.

    Tuning (round-4 profile, STREAMBENCH before/after): the drain cost
    was dominated by per-partition STATE STORE COMMITS, not the join —
    32 state partitions x (data batch + a trailing no-data batch)
    committed ~65 s of cumulative delta-file writes for a 7 s join.
    Two scoped fixes, both output-identical (verified: same rows, and
    the oracle hash gate):
    - `noDataMicroBatches.enabled=false`: an INNER stream-stream join
      emits every match during data batches; the trailing no-data
      batch exists only to advance the watermark and evict state,
      which is pure overhead when the query then terminates (it was
      45% of addBatch time). OUTER joins must keep it — their
      watermark-crossing rows are EMITTED by that batch; this
      function is inner-only.
    - 16 state partitions instead of the session's 32: state-store
      commit cost scales with partition count, and 400 k buffered
      rows want far fewer stores; on a real cluster size this to
      state volume, not to core count.
    Both settings are scoped to this query and restored after the
    drain (they are read at stream START, so the surrounding session
    is unaffected).
    """
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purchase_id")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("s7_sink")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    return spark.table("s7_sink")


def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: watermarked stream-stream LEFT OUTER join — every click,
    attributed to a purchase within [click, click + 1h] or emitted
    null-extended once it provably cannot match.

    The outer leg is what makes the no-data micro-batch LOAD-BEARING
    (deliberately NOT disabled here, unlike the inner-only s7 tuning):
    an unmatched click is emitted exactly when the watermark passes
    the end of its join window — i.e. during the trailing watermark-
    advancing batch, not during data processing. Determinism contract
    under availableNow: the final GLOBAL watermark is the MIN over
    both sides of (max watermark-column value - 1h delay), each
    side's maximum taken AFTER its event_type filter — so an
    unmatched click null-emits iff its whole window [click_ts,
    click_ts + 1h] lies below that:
    click_ts < LEAST(max click_ts, max p_ts) - 2h. (Using max(ts)
    over the unfiltered table mispredicts by the click/purchase tail
    gap — the s9 oracle proved that empirically; do not "simplify"
    this rule back to a single-side max.) Clicks
    nearer the end of input stay buffered and are (correctly) never
    emitted as unmatched: the stream cannot know a future purchase
    won't arrive. The oracle mirrors exactly that horizon rule, so
    the hash gate pins BOTH the inner matches (all of them) and the
    outer emission boundary.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("user_id", "click_id", "purchase_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("s9_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("s9_sink")


def session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: session_window(gap=30 min) per user — Structured Streaming's
    native sessionization (merging variable-length windows in the state
    store). A new session starts when the gap since the previous event
    is >= 30 min (session windows are half-open [start, last+gap)), so
    the batch rewrite is the lag/cumsum gap-flag form with `>=`."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    _run_to_memory(agg, "s4_sink")
    return spark.table("s4_sink").select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        "user_id",
        "cnt",
    )


def stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: custom stateful operator via applyInPandasWithState — a
    per-user running event counter held in the state store (the
    arbitrary-state API the reference's watermark table would grow
    into). Each micro-batch updates the count state and emits the
    running total; after availableNow drains the source, the last
    emission per user equals the batch groupBy count."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [n]})

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, cnt long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("s5_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # keep the final (largest) emission per user — one row per user when
    # the source fits one micro-batch, the late-batch total otherwise
    return (
        spark.table("s5_sink")
        .groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"))
    )


def tws_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the Spark 4 stateful-processor API (transformWithState-
    InPandas) — the successor surface to applyInPandasWithState, with
    typed named state cells instead of one opaque tuple. A per-user
    ValueState holds (cnt, micros): event count + the micro-unit
    quantized running sum of `value` (floor(v*1e6+0.5) per ROW before
    summing — the engine's portable-exact float convention, so the
    drained state is integer-identical to the batch oracle).

    State is keyed by user_id — partitioned by the shuffle on the
    grouping key, one state-store shard per partition; at 100 TB the
    state size is |users|, never |events|, and the RocksDB provider
    (tools/streambench.py) keeps it off-heap.

    ENVIRONMENT BOUNDARY, now bridged: the transformWithState Python
    state server speaks protobuf to the JVM, and this container has no
    `protobuf` pip package — through round 4 this operator failed
    closed. Round 5 closed the boundary WITHOUT an install: the repo-
    root `google/` package bridges google.protobuf onto the machine's
    bundled pure-Python runtime 6.32.0 (google-cloud-sdk appengine
    platform dir) and law-proves the 6.33-gencode-on-6.32-runtime
    round-trip (see google/__init__.py). Every process that needs the
    bridge — driver, TWS driver worker, executor workers — reaches it
    through the repo root already on its sys.path (workers: the
    daemon's cwd). On a machine with neither a protobuf package nor
    the SDK runtime, the ImportError below still fails closed with the
    same honest message. The operator itself is the driver-gated
    s10_tws query; s5_stateful remains the applyInPandasWithState
    form of the same aggregation.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas needs a protobuf runtime: no "
            "`protobuf` package and no bridgeable SDK runtime found "
            "(see google/__init__.py for the bridge's search paths)"
        ) from e
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "cnt long, micros long")

        def handleInputRows(self, key, rows, timerValues):
            cnt, micros = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                v = pdf["value"].to_numpy()
                micros += int((v * 1_000_000 + 0.5).astype("int64").sum())
            self._agg.update((cnt, micros))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "micros": [micros]}
            )

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").transformWithStateInPandas(
        RunningAgg(),
        outputStructType="user_id long, cnt long, micros long",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState keeps each named state cell in its own column
    # family — a RocksDB-provider feature (the default HDFS-backed
    # provider is single-family and refuses). RocksDB is also the
    # provider this state would run on at scale (off-heap, incremental
    # checkpoints); scope it to this query and restore after.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("s10_sink")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    # final (largest) emission per user = fully drained state; both
    # cells are monotone (counts, and value >= 0 in this feed)
    return (
        spark.table("s10_sink")
        .groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"), F.max("micros").alias("micros"))
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: stream-static enrichment join — the workhorse production
    streaming shape (a fact stream enriched against a slowly-changing
    dimension read as a plain batch relation). The static side is
    planned per micro-batch (so dim updates between batches are
    picked up) and broadcast when small; no watermark or join state
    is needed because the static side is bounded — unlike the
    stream-stream join (S7) this keeps ZERO state in the store.

    Enrichment: events joined to the customer dimension on
    user_id -> c_custkey, purchase counts per market segment.
    """
    _ensure_session_confs(spark)
    ev = _events_stream(spark, sf_dir)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = (
        ev.filter(F.col("event_type") == "purchase")
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName("s8_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("s8_sink")


def checkpoint_resume_counts(
    spark: SparkSession,
    sf_dir: str,
    workdir: str | None = None,
    collect_progress: list | None = None,
    key_expr: str = "event_type",
    collect_timings: list | None = None,
    extra_restart: bool = False,
) -> DataFrame:
    """S11: kill-and-resume recovery from the checkpoint — the
    operational form of the reference's `update_status` watermark
    table (mongodb_handler.py:212-225: "how far did I get?"), which
    Structured Streaming subsumes with its offset log + state store.

    Two runs of the SAME query against the SAME checkpoint:
      phase 1: the source dir holds the first half of events; the
        complete-mode count aggregation drains it (availableNow),
        commits state + offsets to the checkpoint, and the query
        STOPS — the crash/restart boundary;
      phase 2: the second half lands in the source dir; the restarted
        query reads ONLY the new files (offset log) and resumes the
        aggregation FROM CHECKPOINTED STATE (no reprocessing of phase
        1, no lost counts).
    The final complete-mode emission therefore equals the batch
    aggregate over all events — true only if both the offset log and
    the state store survive the restart, which is exactly the law.
    foreachBatch lands each complete emission through the versioned
    snapshot sink (atomic pointer commit), so a reader never sees a
    half-written result — the same sink discipline s3 uses.

    `workdir=None` uses content-keyed scratch dirs: a re-run finds the
    drained checkpoint, both phases no-op on input, and the sink's
    committed version still holds the full counts (idempotent).
    `collect_progress` (tests) receives one {"phase", "rows"} dict per
    phase, read from the query's own progress telemetry — the pytest
    law asserts phase 2 processed exactly the second half.

    Bench knobs (tools/streambench.py's recovery-lag curve — the
    question a 100-TB operator asks first: how long does a restart
    take as state grows?): `key_expr` swaps the aggregation key (e.g.
    ``user_id % 100000`` scales state cardinality; the output column
    is still named event_type so the sink/read path is unchanged),
    `collect_timings` receives per-phase wall seconds, and
    `extra_restart=True` runs a THIRD phase with no new input — a
    restart whose only work is offset-log replay + state restore + the
    no-data commit, i.e. the isolated recovery lag.
    """
    import pyarrow.parquet as pq

    from ..operators.merge import read_versioned, write_versioned

    _ensure_session_confs(spark)
    stage = _stage_events(sf_dir)
    if workdir is None:
        st = os.stat(f"{stage}/events.parquet")
        key = hashlib.md5(
            f"{stage}:{st.st_size}:{st.st_mtime_ns}:resume-v1".encode()
        ).hexdigest()[:12]
        workdir = f"{SCRATCH}/resume_{key}"
    src_dir = f"{workdir}/source"
    ckpt = f"{workdir}/checkpoint"
    sink = f"{workdir}/sink"

    tbl = pq.read_table(f"{stage}/events.parquet")
    half = tbl.num_rows // 2

    def ensure_chunk(name: str, part) -> None:
        path = f"{src_dir}/{name}.parquet"
        if not os.path.exists(path):
            os.makedirs(src_dir, exist_ok=True)
            with fsio.atomic_file(path, "wb") as f:
                pq.write_table(part, f)

    def run_phase(phase: int) -> None:
        import time as _time

        t0 = _time.time()
        counts = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src_dir)
            .groupBy(F.expr(key_expr).alias("event_type"))
            .agg(F.count("*").alias("cnt"))
        )
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(lambda batch, _id: write_versioned(batch, sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if collect_progress is not None:
            rows = sum(
                int(p["numInputRows"]) for p in (q.recentProgress or [])
            )
            collect_progress.append({"phase": phase, "rows": rows})
        if collect_timings is not None:
            collect_timings.append(
                {"phase": phase, "seconds": round(_time.time() - t0, 3)}
            )

    ensure_chunk("chunk_a", tbl.slice(0, half))
    run_phase(1)  # drain the first half, checkpoint, stop (the "crash")
    if extra_restart:
        # reserve the LAST row for a third restart: a no-data restart
        # never schedules a batch (so state is never restored and the
        # timing measures only the offset-log check); one fresh row
        # forces the full recovery path — state restore + one commit —
        # while keeping the final aggregate equal to the batch truth
        ensure_chunk("chunk_b", tbl.slice(half, tbl.num_rows - half - 1))
        run_phase(2)
        ensure_chunk("chunk_c", tbl.slice(tbl.num_rows - 1, 1))
        run_phase(3)  # isolated recovery lag: restore + 1-row commit
    else:
        ensure_chunk("chunk_b", tbl.slice(half))
        run_phase(2)  # restart: offset log skips chunk_a, state resumes

    return read_versioned(spark, sink).select(
        "event_type", F.col("cnt").cast("long").alias("cnt")
    )


def media_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: continuous multimodal ingestion — the streaming half of the
    src_binary batch reader. A binaryFile STREAM over the PNG landing
    directory (the object-store shape a 100-TB media corpus arrives
    in: files keep landing, the query keeps draining), each
    micro-batch decoded by the REAL codec inside an Arrow mapInPandas
    stage, aggregated by decoded dimensions. maxFilesPerTrigger
    bounds per-batch work (the production backpressure knob);
    availableNow drains the backlog hermetically here. The decode is
    map-only inside each micro-batch — the only stateful piece is the
    tiny dims-count aggregation, so state is O(|distinct dims|)
    regardless of corpus size."""
    import pandas as pd

    from ..operators.multimodal import png_codec
    from ..sources.landing import gen_png_files

    _ensure_session_confs(spark)
    path = gen_png_files(sf_dir)
    # file-source streams require an explicit schema; binaryFile's is
    # fixed by the format
    bf_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(bf_schema)
        .option("pathGlobFilter", "*.png")
        .option("maxFilesPerTrigger", 64)
        .load(path)
        .select("content")
    )

    def decode(it):
        for pdf in it:
            rows = []
            for content in pdf["content"]:
                d = png_codec(bytes(content))
                rows.append({"width": d["width"], "height": d["height"]})
            yield pd.DataFrame(rows, columns=["width", "height"])

    dims = files.mapInPandas(decode, schema="width int, height int")
    agg = dims.groupBy("width", "height").agg(F.count("*").alias("n_docs"))
    _run_to_memory(agg, "s12_sink")
    return spark.table("s12_sink").select(
        "width", "height", F.col("n_docs").cast("long").alias("n_docs")
    )
