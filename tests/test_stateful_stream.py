"""Streaming stateful validity (ST5's applyInPandasWithState form):
per-key state must carry across micro-batch boundaries and reproduce
the batch operator exactly."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.sources.tables import load_table
from cosmoz_data_pipeline_spark.streaming.incremental import stream_dedup_to_sink
from cosmoz_data_pipeline_spark.streaming.stateful import (
    validate_sequential,
    validate_sequential_stream,
)


def test_stream_state_carries_across_microbatches(spark, sf_dir, tmp_path):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .where(F.col("user_id") <= 20)
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    # sentinel key 999: its post-cut row (500 vs last_valid 100, gap
    # < 24 h) is INVALID only if the pre-cut state survived the
    # micro-batch boundary — a state reset would re-validate it and
    # diverge from the batch operator
    import datetime as dt

    sentinel = spark.createDataFrame(
        [
            (999, cut - dt.timedelta(hours=1), 100.0),
            (999, cut + dt.timedelta(hours=1), 500.0),
        ],
        "user_id long, ts timestamp_ntz, value double",
    )
    ev = ev.unionByName(sentinel)

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    # two files split at the median ts; mtimes force oldest-first order
    ev.where(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(os.path.join(src, "a"))
    ev.where(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(os.path.join(src, "b"))
    now = time.time()
    for sub, mt in (("a", now - 100), ("b", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (mt, mt))

    schema = spark.read.parquet(os.path.join(src, "a")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    validated = validate_sequential_stream(
        stream, key="user_id", time_col="ts", value_col="value"
    )
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    q = (
        validated.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.ts): (r.valid, round(r.last_valid, 9))
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.user_id, r.ts): (r.valid, round(r.last_valid, 9))
        for r in validate_sequential(
            ev, key="user_id", time_col="ts", value_col="value"
        ).collect()
    }
    assert len(got) == len(want) > 0
    # identical per-row decisions => the state genuinely crossed the
    # micro-batch boundary (a state reset would re-validate the first
    # post-boundary row of every key unconditionally)
    assert got == want
    # and the sentinel's post-boundary row really is the divergent case
    post = (999, cut + dt.timedelta(hours=1))
    assert want[post] == (False, 100.0)
    assert got[post] == (False, 100.0)


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """ST2's catch-up semantics in streaming form: a second AvailableNow
    run against the same checkpoint picks up ONLY files added since the
    first run, and the validity state carries across RUNS (not just
    micro-batches) — the crash/restart story for an unbounded ingest."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows_a = [(7, base, 100.0), (7, base + dt.timedelta(hours=1), 105.0)]
    #  500 is invalid ONLY if the last_valid=105 state survived the restart
    rows_b = [(7, base + dt.timedelta(hours=2), 500.0),
              (7, base + dt.timedelta(hours=3), 110.0)]

    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def mk(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")

    def run_once():
        schema = mk(rows_a).schema
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = (
            validate_sequential_stream(stream, key="user_id", time_col="ts", value_col="value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mk(rows_a).coalesce(1).write.parquet(os.path.join(src, "a"))
    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == 2

    mk(rows_b).coalesce(1).write.parquet(os.path.join(src, "b"))
    run_once()
    got = {
        r.ts: (r.valid, r.last_valid)
        for r in spark.read.parquet(sink).collect()
    }
    assert len(got) == 4  # file a was NOT reprocessed (no duplicates)
    assert got[base + dt.timedelta(hours=2)] == (False, 105.0)  # state survived restart
    assert got[base + dt.timedelta(hours=3)] == (True, 110.0)


def test_stream_dedup_state_partitions_sized_from_bytes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 15 (ST6_STAGES/ST6_STATEPARTS_AB): the dedup stream's
    state-store partition count derives from source BYTES (one
    target-sized slice per partition, min 1, capped), not the
    session's core-count floor; results are partition-count-invariant;
    and the session conf is restored after the stream."""
    from cosmoz_data_pipeline_spark import profile
    from cosmoz_data_pipeline_spark.profile import SHUFFLE_PARTITIONS_CAP, path_bytes
    from cosmoz_data_pipeline_spark.streaming import incremental as inc

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    # sizing rule (unit): tiny source → one partition; a big source →
    # bytes-derived
    assert inc._state_partitions(spark, src) == 1
    # bytes-derived branch: with a target slice of 1/20 of the source
    # the count is bytes // target; with a 1-byte target it clamps at
    # the cap
    sz = path_bytes(spark, src)
    assert sz > SHUFFLE_PARTITIONS_CAP
    target = sz // 20
    monkeypatch.setattr(profile, "SHUFFLE_TARGET_INPUT_BYTES", target)
    assert inc._state_partitions(spark, src) == sz // target > 8
    monkeypatch.setattr(profile, "SHUFFLE_TARGET_INPUT_BYTES", 1)
    assert inc._state_partitions(spark, src) == SHUFFLE_PARTITIONS_CAP
    monkeypatch.undo()

    # end-to-end: same deduped key set at the auto count and at a
    # pinned high count (a smaller target slice raises the derived
    # count), each frozen into its checkpoint's state store, and the
    # session conf is untouched after
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    for tag, target in (("auto", None), ("pinned", sz // 16)):
        sink, ckpt = str(tmp_path / f"sink_{tag}"), str(tmp_path / f"ckpt_{tag}")
        with monkeypatch.context() as m:
            if target is not None:
                m.setattr(profile, "SHUFFLE_TARGET_INPUT_BYTES", target)
            parts = inc._state_partitions(spark, src)
            inc.stream_dedup_to_sink(
                spark,
                source_dir=src,
                sink_dir=sink,
                checkpoint_dir=ckpt,
                schema=schema,
                dedup_cols=["user_id", "event_type"],
                time_col="ts",
            )
        assert parts == (1 if target is None else 16)
        state = os.listdir(os.path.join(ckpt, "state", "0"))
        assert len([d for d in state if d.isdigit()]) == parts
        assert spark.conf.get("spark.sql.shuffle.partitions") == base_parts
        outs.append(
            sorted(
                tuple(r)
                for r in spark.read.parquet(sink)
                .select("user_id", "event_type")
                .distinct()
                .collect()
            )
        )
    assert outs[0] == outs[1] and outs[0]


def _append_keys(src: str, name: str, keys) -> None:
    """One parquet file ``name`` in ``src`` with rows (k, ts), ts = a
    fixed hour + k minutes, so a re-sent key is an exact duplicate."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 6, 1)
    pq.write_table(
        pa.table(
            {
                "k": pa.array(list(keys), pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(minutes=k) for k in keys], pa.timestamp("us")
                ),
            }
        ),
        os.path.join(src, name),
    )


def _dedup_tick(spark, tmp_path, schema) -> None:
    stream_dedup_to_sink(
        spark,
        source_dir=str(tmp_path / "src"),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=schema,
        dedup_cols=["k", "ts"],
        time_col="ts",
    )


def test_reused_checkpoint_keeps_its_first_state_partition_count(
    spark, tmp_path, monkeypatch
):
    """The hourly ingest reuses one checkpoint across ticks: the state
    partition count its first batch chose stays for the checkpoint's
    life, even once the source's bytes would size more, and the state
    still drops every re-sent key."""
    from cosmoz_data_pipeline_spark import profile
    from cosmoz_data_pipeline_spark.streaming import incremental as inc

    src = tmp_path / "src"
    src.mkdir()
    _append_keys(str(src), "tick0.parquet", range(50))
    schema = spark.read.parquet(str(src)).schema
    _dedup_tick(spark, tmp_path, schema)

    # the second tick re-sends half of the first tick's keys and grows
    # the source past four target slices
    _append_keys(str(src), "tick1.parquet", range(25, 100))
    monkeypatch.setattr(
        profile, "SHUFFLE_TARGET_INPUT_BYTES", profile.path_bytes(spark, str(src)) // 4
    )
    assert inc._state_partitions(spark, str(src)) == 4
    _dedup_tick(spark, tmp_path, schema)

    state = os.listdir(tmp_path / "ckpt" / "state" / "0")
    assert [d for d in state if d.isdigit()] == ["0"]
    sink = spark.read.parquet(str(tmp_path / "sink"))
    keys = [tuple(r) for r in sink.select("k", "ts").collect()]
    assert len(keys) == len(set(keys)) == 100


def test_callers_listener_sees_the_dedup_stream(spark, tmp_path):
    """The stream runs in the caller's session: perfbench's listener,
    registered on the caller's ``spark.streams``, gets its progress
    (the traced ``stream.*`` metrics read it), with the one state
    partition a tiny source sizes, and the caller's shuffle conf comes
    back."""
    from perfbench.tracing import stream_progress_listener

    src = tmp_path / "src"
    src.mkdir()
    _append_keys(str(src), "tick0.parquet", range(20))
    schema = spark.read.parquet(str(src)).schema
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    listener = stream_progress_listener()
    spark.streams.addListener(listener)
    try:
        _dedup_tick(spark, tmp_path, schema)
        # progress events reach Python on the listener bus, after the
        # query may already have terminated
        deadline = time.monotonic() + 60
        while not listener.events and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    parts = {op["numShufflePartitions"] for e in listener.events for op in e["stateOperators"]}
    assert parts == {1}
    assert spark.conf.get("spark.sql.shuffle.partitions") == base_parts


def test_reused_checkpoint_skips_the_source_walk(spark, tmp_path, monkeypatch):
    """The state partition count is sized from the source's bytes only
    for a new checkpoint: a tick on a checkpoint whose offset log holds
    a batch neither walks the source nor writes the shuffle conf, which
    Spark would ignore."""
    from cosmoz_data_pipeline_spark import profile

    walks, written = [], []
    path_bytes, conf_set = profile.path_bytes, spark.conf.set
    monkeypatch.setattr(
        profile, "path_bytes", lambda s, p: walks.append(p) or path_bytes(s, p)
    )
    monkeypatch.setattr(
        spark.conf, "set", lambda k, v: written.append(k) or conf_set(k, v)
    )
    src = tmp_path / "src"
    src.mkdir()
    _append_keys(str(src), "tick0.parquet", range(20))
    schema = spark.read.parquet(str(src)).schema

    _dedup_tick(spark, tmp_path, schema)
    assert walks == [str(src)]
    assert "spark.sql.shuffle.partitions" in written

    walks.clear()
    written.clear()
    _append_keys(str(src), "tick1.parquet", range(10, 30))
    _dedup_tick(spark, tmp_path, schema)
    assert walks == []
    assert "spark.sql.shuffle.partitions" not in written
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == sink.select("k", "ts").distinct().count() == 30


def test_stream_confs_restored_after_a_tick_and_a_failed_tick(spark, tmp_path):
    """The stream's session confs come back as the caller had them, set
    or unset, after a tick and after a tick whose stream raises."""
    shuffle = "spark.sql.shuffle.partitions"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    single = "spark.sql.streaming.statefulOperator.allowMultiple"
    prev = spark.conf.get(shuffle)
    src = tmp_path / "src"
    src.mkdir()
    _append_keys(str(src), "tick0.parquet", range(10))
    schema = spark.read.parquet(str(src)).schema
    spark.conf.set(shuffle, "7")
    try:
        _dedup_tick(spark, tmp_path, schema)
        assert spark.conf.get(shuffle) == "7"
        assert spark.conf.get(no_data, None) is None
        assert spark.conf.get(single, None) is None

        # a sink under a regular file makes the batch's write raise
        (tmp_path / "file").write_text("")
        spark.conf.set(no_data, "true")
        with pytest.raises(StreamingQueryException):
            stream_dedup_to_sink(
                spark,
                source_dir=str(src),
                sink_dir=str(tmp_path / "file" / "sink"),
                checkpoint_dir=str(tmp_path / "ckpt_failed"),
                schema=schema,
                dedup_cols=["k", "ts"],
                time_col="ts",
            )
        assert spark.conf.get(shuffle) == "7"
        assert spark.conf.get(no_data, None) == "true"
        assert spark.conf.get(single, None) is None
    finally:
        spark.conf.set(shuffle, prev)
        spark.conf.unset(no_data)
