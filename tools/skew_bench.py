"""Skew-resilience evidence for the 100× scale claim (VERDICT r2 task
8; extended r5 to the extension operators per VERDICT r4 task 5).

Part 1 — level pipeline: run level1→level2 over (a) the uniform
8-site domain and (b) a skewed remap where sites 1-4 collapse onto
site 1 (~50 % of all rows on ONE key — every site_no-keyed shuffle,
window and as-of in the pipeline hits the hot key), and report
min-of-2 wall times + the skew/uniform ratio. AQE skew-join splitting
and the window ops' per-key-but-many-partition layout should keep the
ratio near 1; a quadratic or single-reducer path would blow it up ~4×.

Part 2 — dedup extension operators: rewrite the documents corpus so
ONE source holds ~50 % of rows (src0-9 → src0 of 20 uniform sources)
and measure x_dedup_simhash_pairs and x_dedup_components on the
skewed vs uniform corpus. Expected ratio ≈ 1.0 *by construction*: the
dedup path never shuffles on source/lang — its keys are doc_id and
content-derived 16-bit band values (pigeonhole blocking), so a hot
source cannot create a hot partition. The measurement pins that
property; the remaining hot-key exposure is a hot BAND VALUE (many
near-identical documents sharing a bucket), which is bounded by the
4×2^16 bucket space and would surface as candidate-pair blow-up in
the scale sweep's pair counts, not as source skew.

Usage: python tools/skew_bench.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.domain import levels  # noqa: E402
from cosmoz_data_pipeline_spark.domain.synth import load_domain  # noqa: E402
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402

DEDUP_QUERIES = ("x_dedup_simhash_pairs", "x_dedup_components")


def _cold(spark) -> None:
    release_persists()
    spark.catalog.clearCache()
    catalog_ext._IVF_CENTROIDS.clear()
    catalog_ext.clear_counts()


def run_level2(spark, d, raw) -> tuple[float, int]:
    t0 = time.time()
    out = levels.run_pipeline(
        raw, d["intensity"], d["silo_data"], d["all_stations"]
    )["level2"]
    n = out.count()
    dt = time.time() - t0
    spark.catalog.clearCache()
    return dt, n


def make_skewed_docs_corpus(spark, sf_dir: str) -> str:
    """Write a copy of the corpus whose documents table has src0-src9
    remapped to src0 (~50 % of rows on one source); text/doc_id are
    untouched, so pair results are identical and only the distribution
    changes."""
    out = tempfile.mkdtemp(prefix="cosmoz_skew_docs_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    skewed = docs.withColumn(
        "source",
        F.when(
            F.substring("source", 4, 10).cast("int") < 10, F.lit("src0")
        ).otherwise(F.col("source")),
    )
    skewed.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def time_registry(spark, name: str, sf_dir: str, runs: int = 2) -> tuple[float, int]:
    best, rows = math.inf, 0
    for _ in range(runs):
        _cold(spark)
        t0 = time.time()
        rows = REGISTRY[name].run(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    _cold(spark)
    return round(best, 3), rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="cosmoz-skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    d = load_domain(spark, sf_dir)
    uniform = d["raw_values"]
    # sites 1-4 → 1: one hot key carrying ~50 % of rows
    skewed = uniform.withColumn(
        "site_no",
        F.when(F.col("site_no") <= 4, F.lit(1)).otherwise(F.col("site_no")),
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # JVM warmup

    times = {"uniform": [], "skewed": []}
    counts = {}
    for _ in range(2):
        for name, raw in (("uniform", uniform), ("skewed", skewed)):
            dt, n = run_level2(spark, d, raw)
            times[name].append(dt)
            counts[name] = n
    tu, ts = min(times["uniform"]), min(times["skewed"])
    results = {
        "metric": "skew_ratios",
        "sf_dir": sf_dir,
        "level2": {
            "uniform_sec": round(tu, 3),
            "skewed_sec": round(ts, 3),
            "ratio": round(ts / tu, 3),
            "rows": counts,
            "skew": "sites 1-4 -> 1 (~50% of rows on one site_no key)",
        },
    }

    skew_dir = make_skewed_docs_corpus(spark, sf_dir)
    try:
        for name in DEDUP_QUERIES:
            tu2, ru = time_registry(spark, name, sf_dir)
            ts2, rs = time_registry(spark, name, skew_dir)
            results[name] = {
                "uniform_sec": tu2,
                "skewed_sec": ts2,
                "ratio": round(ts2 / tu2, 3),
                "rows": {"uniform": ru, "skewed": rs},
                "skew": "src0-9 -> src0 (~50% of documents on one source)",
            }
    finally:
        shutil.rmtree(skew_dir, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
