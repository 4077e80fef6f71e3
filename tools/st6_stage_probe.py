"""ST6 stage decomposition (round 15, VERDICT r14 task 3).

``st6_stream_dedup_watermark`` reads 2.5-4.8 s at sf0.1 with a 0.39
low-core ratio in PERF_r14 — the 8-core run was FASTER than the
32-core run, the signature of per-partition commit/fixed overhead
rather than compute. This probe decomposes the query's legs so the
cost has an address:

- ``src_write``     events → coalesce(1) parquet (the fixture build)
- ``stream_nodedup`` the identical AvailableNow stream + foreachBatch
                    parquet sink with NO watermark/dedup — isolates
                    the streaming machinery (offset/commit logs,
                    micro-batch planning, sink write) from the dedup
                    state store
- ``stream_dedup``  the shipped shape (24 h watermark +
                    dropDuplicatesWithinWatermark): the delta over
                    ``stream_nodedup`` is the state-store exchange +
                    per-partition state commit
- ``readback``      sink read + count (the oracle-compare leg)

The state-store partition count is derived inside
``stream_dedup_to_sink`` from the source bytes, so no stage here can
pin it; ST6_STATEPARTS_AB.json holds the interleaved record of the
pinned-vs-derived comparison.

min-of-N per stage, fresh scratch dirs per run (no run reads a
predecessor's checkpoint or sink).

Usage: python tools/st6_stage_probe.py [--sf-dir DIR] [--runs N]
Writes ST6_STAGES.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from cosmoz_data_pipeline_spark.sentinel import SENTINEL_REF_SEC, sentinel_sec  # noqa: E402
from cosmoz_data_pipeline_spark.sources.tables import load_table  # noqa: E402
from cosmoz_data_pipeline_spark.streaming.incremental import (  # noqa: E402
    stream_dedup_to_sink,
)
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402


def _stream_nodedup(spark, src, sink, ckpt, schema, time_col="ts"):
    """The shipped stream minus watermark+dedup: same source, same
    trigger, same replay-idempotent foreachBatch parquet sink."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn(time_col, F.col(time_col).cast("timestamp"))
    )

    def sink_fn(batch, batch_id):
        batch.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    (
        stream.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = build_session(
        app_name="st6-stage-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, args.sf_dir, "events")

    out: dict = {
        "metric": "st6_stage_probe",
        "unit": "sec",
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "policy": "min-of-N per stage, fresh scratch (src/sink/ckpt) per "
        "run; stream stages timed start->awaitTermination; run_bytes from "
        "the status REST API",
        "sentinel_ref_sec": SENTINEL_REF_SEC,
        "stages": {},
    }
    out["sentinel_sec"] = sentinel_sec(spark, repeats=2)
    out["session_shuffle_partitions"] = int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    def timed(name, fn, n=args.runs):
        best, met = float("inf"), None
        for _ in range(n):
            work = tempfile.mkdtemp(prefix="st6_probe_")
            try:
                _cold(spark)
                hwm = _stage_hwm(spark)
                t0 = time.time()
                fn(work)
                dt = time.time() - t0
                if dt < best:
                    best, met = dt, _metrics_since(spark, hwm)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        out["stages"][name] = {"t": round(best, 3), "run_bytes": met}
        print(f"  {name:28s} {best:7.2f}s", flush=True)

    # stage 1: the fixture write (shared prefix of every stream stage)
    def src_write(work):
        ev.coalesce(1).write.parquet(f"{work}/src")

    timed("src_write", src_write)

    # shared prepared source for the stream stages (rebuilt per run
    # inside the timer? no — the fixture build is its own stage above;
    # the stream stages time ONLY the streaming query, so the source
    # is built before the timer inside each run's scratch)
    def _with_src(fn):
        def run(work):
            src = f"{work}/src"
            ev.coalesce(1).write.parquet(src)
            schema = spark.read.parquet(src).schema
            _cold(spark)
            t0 = time.time()
            fn(src, f"{work}/sink", f"{work}/ckpt", schema)
            return time.time() - t0

        return run

    def timed_stream(name, fn, n=args.runs):
        best, met = float("inf"), None
        for _ in range(n):
            work = tempfile.mkdtemp(prefix="st6_probe_")
            try:
                hwm = _stage_hwm(spark)
                dt = _with_src(fn)(work)
                if dt < best:
                    best, met = dt, _metrics_since(spark, hwm)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        out["stages"][name] = {"t": round(best, 3), "run_bytes": met}
        print(f"  {name:28s} {best:7.2f}s", flush=True)

    def nodedup(src, sink, ckpt, schema):
        _stream_nodedup(spark, src, sink, ckpt, schema)

    def dedup(src, sink, ckpt, schema):
        stream_dedup_to_sink(
            spark,
            source_dir=src,
            sink_dir=sink,
            checkpoint_dir=ckpt,
            schema=schema,
            dedup_cols=["user_id", "event_type"],
            time_col="ts",
        )

    timed_stream("stream_nodedup", nodedup)
    timed_stream("stream_dedup", dedup)

    # stage 4: the sink readback (built once outside the timer)
    work = tempfile.mkdtemp(prefix="st6_probe_")
    try:
        src = f"{work}/src"
        ev.coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        dedup(src, f"{work}/sink", f"{work}/ckpt", schema)

        def readback(_):
            spark.read.parquet(f"{work}/sink").select(
                "user_id", "event_type"
            ).count()

        best = float("inf")
        for _ in range(args.runs):
            _cold(spark)
            t0 = time.time()
            readback(None)
            best = min(best, time.time() - t0)
        out["stages"]["readback"] = {"t": round(best, 3), "run_bytes": None}
        print(f"  {'readback':28s} {best:7.2f}s", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    d = out["stages"]
    out["state_store_delta_sec"] = round(
        d["stream_dedup"]["t"] - d["stream_nodedup"]["t"], 3
    )
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ST6_STAGES.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
