"""One micro-batch per ingest tick for a time-keyed dedup stream:
``stream_dedup_to_sink`` drops the no-data batch (the state eviction
pass after each data batch) when the dedup key holds the event time,
and filters late rows against the batch's own watermark. The sink must
hold exactly the keys the two-batch run emits; dedup keys without the
event time keep the no-data batch."""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cosmoz_data_pipeline_spark.streaming import incremental as inc

_BASE = dt.datetime(2024, 6, 1)


def _write(path: str, rows) -> None:
    pq.write_table(
        pa.table(
            {
                "k": pa.array([k for k, _ in rows], pa.int64()),
                "ts": pa.array([t for _, t in rows], pa.timestamp("us")),
            }
        ),
        path,
    )


def _run_ticks(spark, root: str, ticks, dedup_cols=("k", "ts")) -> list:
    """Append each tick's rows as one file and run one dedup tick on
    one checkpoint; returns the sink's (k, ts) rows."""
    src = os.path.join(root, "src")
    os.makedirs(src)
    schema = None
    for i, rows in enumerate(ticks):
        _write(os.path.join(src, f"tick{i:03d}.parquet"), rows)
        schema = schema or spark.read.parquet(src).schema
        inc.stream_dedup_to_sink(
            spark,
            source_dir=src,
            sink_dir=os.path.join(root, "sink"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            schema=schema,
            dedup_cols=list(dedup_cols),
            time_col="ts",
        )
    sink = spark.read.parquet(os.path.join(root, "sink"))
    return [(r.k, r.ts) for r in sink.select("k", "ts").collect()]


def _both_arms(spark, monkeypatch, ticks):
    """(one-batch sink rows, two-batch reference sink rows, the
    one-batch sink's batch directories, those of them with no rows)."""
    with tempfile.TemporaryDirectory() as root:
        got = _run_ticks(spark, os.path.join(root, "one"), ticks)
        with monkeypatch.context() as m:
            # the reference: Spark's default no-data batch and
            # previous-batch late filter
            m.setattr(inc, "_ONE_BATCH", {})
            want = _run_ticks(spark, os.path.join(root, "two"), ticks)
        sink = os.path.join(root, "one", "sink")
        batches = sorted(d for d in os.listdir(sink) if d.startswith("batch_id="))
        empty = [d for d in batches if not pq.read_table(os.path.join(sink, d)).num_rows]
    return got, want, batches, empty


# One tick: how far the newest event time moves (hours; 30 > the 24 h
# watermark, so it expires state), then rows that are new, re-sent,
# 1-6 h late, or 25-48 h old (older than the watermark).
_row = st.one_of(
    st.tuples(st.just("new"), st.integers(0, 59)),
    st.tuples(st.just("resend"), st.integers(0, 1000)),
    st.tuples(st.just("late"), st.integers(1, 6)),
    st.tuples(st.just("stale"), st.integers(25, 48)),
)
_tick = st.tuples(st.sampled_from([0, 1, 2, 30]), st.lists(_row, min_size=1, max_size=5))


def _materialize(draws):
    """Rows per tick from the drawn tick shapes: a re-sent row repeats
    any row sent before it (this tick's too); every other row gets a
    fresh key."""
    ticks, sent, clock = [], [], _BASE
    for advance, kinds in draws:
        clock += dt.timedelta(hours=advance)
        rows = []
        for kind, n in kinds:
            if kind == "resend" and sent:
                row = sent[n % len(sent)]
            elif kind in ("late", "stale"):
                row = (len(sent), clock - dt.timedelta(hours=n))
            else:
                row = (len(sent), clock + dt.timedelta(minutes=n if kind == "new" else 0))
            rows.append(row)
            sent.append(row)
        ticks.append(rows)
    return ticks


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(draws=st.lists(_tick, min_size=2, max_size=4))
def test_one_batch_ticks_emit_the_two_batch_keys(spark, monkeypatch, draws):
    ticks = _materialize(draws)
    got, want, batches, _ = _both_arms(spark, monkeypatch, ticks)
    assert Counter(got) == Counter(want)
    assert len(got) == len(set(got))
    # one batch per tick (a tick whose rows are all dropped still
    # writes its batch, empty)
    assert sorted(batches) == sorted(f"batch_id={i}" for i in range(len(ticks)))


def test_a_never_seen_row_behind_the_last_ticks_watermark_is_late(
    spark, monkeypatch
):
    """Tick 1 moves the watermark to t0 + 24 h; tick 2 sends a new key
    at t0 + 12 h. The two-batch run drops it as late; filtering late
    rows against the previous batch's watermark (t0 − 24 h, where the
    offset log holds it without the no-data batch) would emit it."""
    ticks = [
        [(1, _BASE)],
        [(2, _BASE + dt.timedelta(hours=48))],
        [(3, _BASE + dt.timedelta(hours=12)), (4, _BASE + dt.timedelta(hours=47))],
    ]
    got, want, batches, empty = _both_arms(spark, monkeypatch, ticks)
    assert sorted(k for k, _ in want) == [1, 2, 4]
    assert sorted(got) == sorted(want)
    assert len(batches) == 3 and not empty


def test_keys_without_event_time_keep_the_no_data_batch(spark, tmp_path):
    """st6-style keys (no event time) still run the no-data batch after
    a data batch that moved the watermark; a time-keyed tick does not.
    Seen by a listener on the caller's ``spark.streams``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.rows, self.done = [], 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done += 1

    ticks = [[(1, _BASE), (2, _BASE + dt.timedelta(hours=1))]]
    seen = {}
    for tag, cols in (("st6", ("k",)), ("timed", ("k", "ts"))):
        listener = Batches()
        spark.streams.addListener(listener)
        try:
            _run_ticks(spark, str(tmp_path / tag), ticks, dedup_cols=cols)
            # progress reaches Python on the listener bus, after the
            # query may already have terminated
            deadline = time.monotonic() + 60
            while not listener.done and time.monotonic() < deadline:
                time.sleep(0.1)
        finally:
            spark.streams.removeListener(listener)
        seen[tag] = listener.rows
    assert seen["st6"] == [2, 0]
    assert seen["timed"] == [2]
