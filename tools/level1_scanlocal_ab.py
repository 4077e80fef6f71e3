"""Interleaved A/B at scale: shipped level1 window shapes vs the
scan-local per-file shape (round 14, VERDICT r13 tasks 1-2).

Question: LEVEL1_STAGES.json shows level1's x1000 wall is dominated by
two full-width exchanges — the bucketed (site, week) prev_count lag
(+57 s, ~5.3 GB shuffle write) and the hash-prefixed 29-min duplicate
window (+16 s, cumulative 13.6 GB) — both shuffling all 17 payload
columns to compute per-row sequence values. The scan-local shape
(operators/scan_local.py) computes both inside the scan over the
layout-contracted raw sink, leaving only a per-(site, file) boundary
stitch; its cost center moves from shuffle to the Arrow/pandas kernel.

Fairness: BOTH variants read the SAME materialized sink files (the
deployment reality — the level pipeline reads raw from the sink, and
the sink's writer already guarantees the layout). The sink is built
once per corpus and reused behind a generator-version marker.

Protocol: per corpus, identity first (count + bit_xor of xxhash64 over
every output column must be equal), then N interleaved repeats of
A = raw_to_level1(read(sink)) under the shipped auto gates and
B = raw_to_level1_scan_local(sink), each noop-forced cold, with
per-run shuffle/spill byte counters, cpu sentinel normalization and
io-sentinel brackets on >=x1000 (r13 window classifier).

Usage: python tools/level1_scanlocal_ab.py [dir:mult ...]
Writes LEVEL1_SCANLOCAL_AB.json at the repo root.
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
from cosmoz_data_pipeline_spark.profile import bucketed_auto  # noqa: E402
from cosmoz_data_pipeline_spark.operators.scan_local import (  # noqa: E402
    write_time_tiled,
)
from cosmoz_data_pipeline_spark.sentinel import (  # noqa: E402
    SENTINEL_REF_SEC,
    io_sentinel_sec,
    io_window,
    sentinel_sec,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402
from tools.scale_corpus import GENERATOR_VERSION  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100, 64),
    ("/tmp/cosmoz_scale_x1000", 1000, 256),
)
REPEATS = 3


def ensure_sink(spark, sf_dir: str, mult: int, n_files: int) -> str:
    from cosmoz_data_pipeline_spark.operators.scan_local import (
        TILE_ROWGROUP_BYTES,
    )

    sink = f"{sf_dir}_rawsink"
    marker = os.path.join(sink, "_sink_meta.json")
    want = {
        "generator_version": GENERATOR_VERSION,
        "mult": mult,
        "n_files": n_files,
        "rowgroup_bytes": TILE_ROWGROUP_BYTES,
    }
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return sink
    print(f"materializing raw sink {sink} ({n_files} files)...", flush=True)
    raw = load_domain(spark, sf_dir)["raw_values"]
    t0 = time.time()
    write_time_tiled(raw, sink, n_files)
    print(f"  sink written in {time.time() - t0:.1f}s", flush=True)
    with open(marker, "w") as f:
        json.dump(want, f)
    return sink


def _variant(spark, which: str, sink: str):
    if which == "A":
        raw = spark.read.parquet(sink)
        return levels.raw_to_level1(raw, big=bucketed_auto(raw))
    return levels.raw_to_level1_scan_local(spark, sink)


def _fingerprint(spark, sink: str, which: str):
    df = _variant(spark, which, sink)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "bit_xor(xxhash64("
            + ", ".join(f"`{c}`" for c in df.columns)
            + "))"
        ).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"])


def _timed(spark, sink: str, which: str):
    _cold(spark)
    hwm = _stage_hwm(spark)
    t0 = time.time()
    _variant(spark, which, sink).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    by = _metrics_since(spark, hwm)
    _cold(spark)
    return round(dt, 3), by


def main() -> None:
    args = sys.argv[1:]
    corpora = (
        [
            (a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1]), 256)
            for a in args
        ]
        if args
        else list(DEFAULT_CORPORA)
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = build_session(
        app_name="level1-scanlocal-ab", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "metric": "level1_scanlocal_ab",
        "unit": "sec",
        "policy": f"interleaved A/B, {REPEATS} repeats, noop-forced cold; "
        "A = shipped raw_to_level1 over the sink read (auto gates: "
        "bucketed (site, week) lag + hash-prefixed dup window at scale); "
        "B = scan-local per-file shape; both variants read the SAME "
        "materialized layout-contracted sink; identity pinned per corpus "
        "(count + bit_xor(xxhash64(*)) equal)",
        "sentinel_ref_sec": SENTINEL_REF_SEC,
        "corpora": {},
    }
    for d, mult, n_files in corpora:
        sink = ensure_sink(spark, d, mult, n_files)
        fa = _fingerprint(spark, sink, "A")
        fb = _fingerprint(spark, sink, "B")
        print(f"x{mult}: identity A={fa} B={fb} match={fa == fb}", flush=True)
        rec: dict = {
            "n_files": n_files,
            "identity": {"A": fa, "B": fb, "match": fa == fb},
            "runs": [],
        }
        snt = sentinel_sec(spark, repeats=2)
        io_pre = io_sentinel_sec(spark) if mult >= 1000 else None
        for r in range(REPEATS):
            ta, by_a = _timed(spark, sink, "A")
            tb, by_b = _timed(spark, sink, "B")
            rec["runs"].append(
                {"A": {"t": ta, "run_bytes": by_a}, "B": {"t": tb, "run_bytes": by_b}}
            )
            print(f"  repeat {r}: A {ta:.2f}s  B {tb:.2f}s", flush=True)
        rec["sentinel_sec"] = snt
        if io_pre is not None:
            io_post = io_sentinel_sec(spark)
            rec["io_sentinel_pre_sec"] = io_pre
            rec["io_sentinel_post_sec"] = io_post
            rec["io_window"] = io_window(io_pre, io_post)
        best_a = min(r["A"]["t"] for r in rec["runs"])
        best_b = min(r["B"]["t"] for r in rec["runs"])
        rec["best_A"] = best_a
        rec["best_B"] = best_b
        rec["best_A_normalized"] = round(best_a * SENTINEL_REF_SEC / snt, 3)
        rec["best_B_normalized"] = round(best_b * SENTINEL_REF_SEC / snt, 3)
        rec["speedup_A_over_B"] = round(best_a / best_b, 3)
        rec["pairwise_B_wins"] = sum(
            r["B"]["t"] < r["A"]["t"] for r in rec["runs"]
        )
        out["corpora"][f"x{mult}"] = rec
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LEVEL1_SCANLOCAL_AB.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
