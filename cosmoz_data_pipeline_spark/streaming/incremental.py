"""Incremental / streaming layer (SURVEY §2.9 ST1-ST4, ST6).

The reference's deployment model is scheduled incremental batch: every
run reprocesses [now − backprocess, now] per site and overwrites that
slice (/root/reference/pipeline/cosmoz_process_levels.py:42-48, 56-58;
process_levels.sh:19-20), with the *intent* of a streaming
materialized view (CREATE CONTINUOUS QUERY,
pipeline/raw->level1.sql:69-70). Spark gives both:

- ``incremental_overwrite``: the batch form — recompute a window,
  dynamic-partition-overwrite only the touched (site_no) partitions.
  Idempotent, re-runnable, the 100 TB-safe equivalent of
  DROP SERIES + rewrite.
- ``stream_dedup_to_sink``: the streaming form — ``readStream`` over
  an append directory, 24 h event-time watermark (ST3,
  nmdb/config.py:12-13), ``dropDuplicatesWithinWatermark`` (ST6 — the
  29-min ingest dedup generalized to watermark-bounded state),
  ``Trigger.AvailableNow`` micro-batch (ST1) into a parquet sink via
  ``foreachBatch``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import profile

# The reference's keys and its 24 h event-time watermark
# (nmdb/config.py:12-13): properties of the pipeline, not of a call.
TIME_COL = "time"
PARTITION_COL = "site_no"
WATERMARK = "24 hours"


def incremental_overwrite(
    transformed: DataFrame,
    sink_dir: str,
    since: str,
) -> None:
    """Write ``transformed`` rows with ``time >= since`` (floored to
    the day) into a parquet table partitioned by ``(site_no,
    p_date)``, overwriting ONLY the day partitions present in this
    batch (dynamic mode).

    The reference's incremental run point-overwrites the recomputed
    window (InfluxDB upserts on (time, tags); DROP SERIES is an
    optional full-site reset, cosmoz_process_levels.py:56-58) — rows
    OUTSIDE the window survive. Day-grained dynamic partition
    overwrite reproduces that durably at scale: the recompute window
    is day-aligned, exactly its (site, day) partitions are replaced,
    all earlier history is untouched, and re-runs are idempotent.
    ``transformed`` must be built from the full input (window
    functions near the boundary need pre-window context); the window
    filter applies only at write time.

    The pre-write ``repartition`` on the partition keys is
    load-bearing: without it every write task fans out one file into
    EVERY (site, day) directory it touches — tasks × dirs small files
    (measured at sf0.1: the ~1,400-directory backfill cost 38.8 s,
    dominated by file commit, and the blow-up grows with span × tasks).
    Hash-clustering rows by (site, day) first makes each directory the
    output of exactly one task — total files == touched partitions —
    for one keyed shuffle of the window's rows. Same cure at 100 TB,
    where a day partition is big enough that the shuffle is the cheap
    part.
    """
    day_start = F.to_date(F.lit(since).cast("timestamp_ntz"))
    (
        transformed.where(F.to_date(TIME_COL) >= day_start)
        .withColumn("p_date", F.to_date(TIME_COL))
        .repartition(F.col(PARTITION_COL), F.col("p_date"))
        .write.mode("overwrite")
        # per-write option, not the session-global conf: concurrent
        # overwrites on the same SparkSession must not race on a
        # mutated spark.sql.sources.partitionOverwriteMode
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL, "p_date")
        .parquet(sink_dir)
    )


def _state_partitions(spark: SparkSession, source_dir: str) -> int:
    """State-store partitions for a dedup stream over ``source_dir``:
    one target-sized slice of the source's bytes per partition, at
    least 1 (see ``profile.partitions_for`` for the evidence)."""
    return profile.partitions_for(profile.path_bytes(spark, source_dir), 1)


def _has_batch(spark: SparkSession, checkpoint_dir: str) -> bool:
    """Whether the checkpoint's offset log holds a batch file (named by
    its batch id). Reached as ``profile.path_bytes`` reaches a path: a
    local listing, else the Hadoop FileSystem."""
    log = f"{checkpoint_dir}/offsets"
    if os.path.isdir(log):
        return any(name.isdigit() for name in os.listdir(log))
    fs, hpath = profile._hadoop_fs(spark, log)
    return fs.exists(hpath) and any(
        st.getPath().getName().isdigit() for st in fs.listStatus(hpath)
    )


# One micro-batch per tick for a time-keyed dedup: no no-data batch,
# and late rows filtered against the batch's own watermark (see
# stream_dedup_to_sink)
_ONE_BATCH = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.streaming.statefulOperator.allowMultiple": "false",
}


@contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then give each key
    back the value the caller had (unset if it had none)."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def stream_dedup_to_sink(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema,
    dedup_cols: Sequence[str],
    time_col: str = TIME_COL,
) -> None:
    """Structured-Streaming ingest: parquet append dir → 24 h
    watermark on ``time_col`` (``WATERMARK``) →
    dropDuplicatesWithinWatermark on ``dedup_cols`` → parquet sink,
    processing all available data then stopping (Trigger.AvailableNow
    — the cron-style incremental run, ST1).

    The duplicate state is bounded by the watermark, so executor
    memory is O(keys within watermark) however large the backlog —
    the property the reference's 29-min SortedList lookback
    (cosmoz_process_levels.py:348-351) only had per-site in-process.

    The sink is replay-idempotent: each micro-batch plain-overwrites
    its own ``batch_id=N`` subdirectory of the parquet sink, so a
    batch re-run after a crash rewrites the same path instead of
    appending duplicates (foreachBatch offers at-least-once delivery;
    the wrapped write must supply the idempotence). Readers of
    ``sink_dir`` see an extra discovered ``batch_id`` partition column
    in the schema — project it away if unwanted.

    One micro-batch per tick when ``time_col`` is one of ``dedup_cols``
    (the hourly ingest's ``site_no, time``). By default a batch that
    advances the watermark is followed by a no-data batch that only
    evicts expired state: a second plan, state pass and empty
    ``batch_id`` directory per tick. With the event time in the key,
    when eviction happens cannot change the output: a key holding
    event time t is evicted once the watermark passes t + 24 h, and by
    then every row with that key is late and dropped before state is
    read. Spark filters late rows against the previous batch's
    watermark, which the no-data batch had brought up to date; without
    it that watermark is one tick stale and a never-seen late row
    would be emitted, so the stream runs in Spark's single-watermark
    mode (``statefulOperator.allowMultiple=false``; the query has one
    stateful operator), which filters against the batch's own
    watermark. Keys without the event time (st6's ``user_id,
    event_type``) keep the no-data batch: there a deferred eviction
    would drop a key that should be emitted again.

    Dedup guarantee: ``dropDuplicatesWithinWatermark`` only dedups
    keys whose occurrences fall within one watermark span of state.
    A key recurring after the watermark expired its state is emitted
    again — matching the reference, whose 29-min lookback is likewise
    bounded. An oracle comparing against a global DISTINCT therefore
    assumes the backlog spans <= the watermark (true for the test
    corpus; assert upstream if relied upon).
    """
    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        # watermarks require TIMESTAMP (LTZ); under the UTC session tz
        # the NTZ→LTZ cast is a no-op rebase
        .withColumn(time_col, F.col(time_col).cast("timestamp"))
        .withWatermark(time_col, WATERMARK)
        .dropDuplicatesWithinWatermark(list(dedup_cols))
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")

    # the state partition count is frozen into the checkpoint at its
    # first micro-batch: a new checkpoint sizes it from the source bytes
    # (_state_partitions above). Once the offset log holds a batch Spark
    # ignores the conf, so a reused checkpoint (the hourly ingest) keeps
    # the count its first batch chose and the source is not walked.
    # The stream stays in the caller's session rather than a
    # newSession() with its own conf: StreamingQueryManager is per
    # session, so a listener on the caller's spark.streams would stop
    # seeing the query
    confs = {}
    if not _has_batch(spark, checkpoint_dir):
        confs["spark.sql.shuffle.partitions"] = str(_state_partitions(spark, source_dir))
    if time_col in dedup_cols:
        confs.update(_ONE_BATCH)
    with _session_confs(spark, confs):
        (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
