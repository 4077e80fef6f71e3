"""Level1-internal stage attribution at scale (round 13 hand-off to
round 14: LEVEL4_STAGES.json's refresh shows the level1 prefix is the
dominant x1000 marginal of the level pipeline — +77.3 s of level4's
~100 s, alpha 1.195 x100->x1000, reproduced across two probe runs —
while the fused level2 exchange adds only +12 s and the +-3h frame
+19 s). Times COLD PREFIXES of raw->level1 in the shape run_pipeline
picks (bucketed (site, week) lag + hash-prefixed duplicate window when
big) via a noop write (count() would prune the window columns):

  scan — raw_values parquet scan (count; nothing to prune)
  lag  — + the bucketed_lag prev_count exchange, all columns
  dupw — + the hash-prefixed 29-min duplicate window exchange
  l1   — raw_to_level1 end-to-end (adds the filters + flag ladder)

Stage cost = prefix difference; sentinels per the r12/r13 protocol
(io brackets + window classifier on >=x1000 decades).

Usage: python tools/level1_stage_probe.py [dir:mult ...]
  default corpora: x100 and x1000.
Writes LEVEL1_STAGES.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.domain import levels  # noqa: E402
from cosmoz_data_pipeline_spark.domain.synth import load_domain  # noqa: E402
from cosmoz_data_pipeline_spark.operators.bucketed_window import bucketed_lag  # noqa: E402
from cosmoz_data_pipeline_spark.profile import bucketed_auto  # noqa: E402
from cosmoz_data_pipeline_spark.sentinel import (  # noqa: E402
    SENTINEL_REF_SEC,
    io_sentinel_sec,
    io_window,
    sentinel_sec,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100),
    ("/tmp/cosmoz_scale_x1000", 1000),
)


def _raw(spark, sf_dir):
    return load_domain(spark, sf_dir)["raw_values"]


def _sink(sf_dir):
    """The materialized layout-contracted raw sink for the scan-local
    stages (built by tools/level1_scanlocal_ab.ensure_sink); scan-local
    cells are skipped when absent."""
    import os

    path = f"{sf_dir}_rawsink"
    return path if os.path.exists(os.path.join(path, "_sink_meta.json")) else None


def _with_prev(raw):
    # raw_to_level1's big-shape prev_count lag
    return bucketed_lag(raw, ["site_no"], "time", ["count"], ["prev_count"])


def _dup_flagged(raw):
    # raw_to_level1's big-shape duplicate window
    from pyspark.sql import Window

    pay = F.struct(*[F.col(c) for c in levels.RAW_PAYLOAD])
    dupw = Window.partitionBy(
        F.xxhash64("site_no", *levels.RAW_PAYLOAD), "site_no"
    ).orderBy(pay, "time")
    prev_pay = F.lag(pay).over(dupw)
    return _with_prev(raw).withColumn(
        "prev_same_payload_time",
        F.when(prev_pay.eqNullSafe(pay), F.lag("time").over(dupw)),
    )


def _level1(raw):
    # the shape run_pipeline picks for this corpus
    return levels.raw_to_level1(raw, big=bucketed_auto(raw))


def _timed(spark, rec, key, df_fn, force="noop"):
    _cold(spark)
    hwm = _stage_hwm(spark)
    t0 = time.time()
    df = df_fn()
    if force == "count":
        rows = df.count()
    else:
        df.write.format("noop").mode("overwrite").save()
        rows = None
    dt = time.time() - t0
    rec[key] = {
        "t": round(dt, 3),
        "rows": rows,
        "run_bytes": _metrics_since(spark, hwm),
    }
    _cold(spark)
    print(f"    {key:5s} {dt:8.2f}s", flush=True)


def main() -> None:
    args = sys.argv[1:]
    corpora = (
        [(a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1])) for a in args]
        if args
        else list(DEFAULT_CORPORA)
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = build_session(
        app_name="level1-stage-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "metric": "level1_stage_probe",
        "unit": "sec",
        "policy": "cold prefixes via noop write (scan alone via count); "
        "stage cost = prefix difference, over-attributing shared scan "
        "work to earlier stages; shipped at-scale gates replicated "
        "(bucketed (site, week) lag; hash-prefixed duplicate window)",
        "sentinel_ref_sec": SENTINEL_REF_SEC,
        "corpora": {},
    }
    for d, mult in corpora:
        snt = sentinel_sec(spark, repeats=2)
        io_pre = io_sentinel_sec(spark) if mult >= 1000 else None
        print(f"x{mult}: sentinel {snt:.2f}s", flush=True)
        rec: dict = {}
        _timed(spark, rec, "scan", lambda: _raw(spark, d), force="count")
        _timed(spark, rec, "lag", lambda: _with_prev(_raw(spark, d)))
        _timed(spark, rec, "dupw", lambda: _dup_flagged(_raw(spark, d)))
        _timed(spark, rec, "l1", lambda: _level1(_raw(spark, d)))
        # round 14: scan-local stages over the materialized sink
        # (operators/scan_local.py, LEVEL1_SCANLOCAL_AB.json) — the
        # window-shape prefixes above read the derived view; these read
        # the sink, so compare sl_* only against each other and the A
        # column of the A/B artifact (same input files)
        sink = _sink(d)
        if sink is not None:
            from cosmoz_data_pipeline_spark.operators import scan_local as sl

            def _sl_kernel():
                # main per-file pass only (no stitch/fix joins)
                src = spark.read.parquet(sink)
                files = sorted(src.inputFiles())
                from pyspark.sql import types as T

                schema = T.StructType(
                    list(src.schema.fields)
                    + [
                        T.StructField("prev_count", T.LongType()),
                        T.StructField("is_duplicate", T.BooleanType()),
                        T.StructField("__fp", T.LongType()),
                        T.StructField("__head", T.BooleanType()),
                        T.StructField("__zone", T.BooleanType()),
                        T.StructField("__tie", T.IntegerType()),
                    ]
                )
                kernel = sl._make_kernel(
                    files,
                    [f.name for f in src.schema.fields],
                    list(levels.RAW_PAYLOAD),
                    "site_no",
                    "time",
                    "count",
                )
                ids = spark.range(0, len(files), 1, numPartitions=len(files))
                return ids.mapInPandas(kernel, schema=schema)

            _timed(spark, rec, "sl_kernel", _sl_kernel)
            _timed(
                spark,
                rec,
                "sl_flags",
                lambda: sl.scan_local_raw_flags(
                    spark, sink, levels.RAW_PAYLOAD
                ),
            )
            _timed(
                spark,
                rec,
                "sl_l1",
                lambda: levels.raw_to_level1_scan_local(spark, sink),
            )
            _timed(
                spark,
                rec,
                "sink_read_l1",
                lambda: _level1(spark.read.parquet(sink)),
            )
        rec["sentinel_sec"] = snt
        if io_pre is not None:
            io_post = io_sentinel_sec(spark)
            rec["io_sentinel_pre_sec"] = io_pre
            rec["io_sentinel_post_sec"] = io_post
            rec["io_window"] = io_window(io_pre, io_post)
        for k, v in rec.items():
            if isinstance(v, dict) and "t" in v:
                v["t_normalized"] = round(v["t"] * SENTINEL_REF_SEC / snt, 3)
        out["corpora"][f"x{mult}"] = rec
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LEVEL1_STAGES.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
