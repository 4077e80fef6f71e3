"""Skew-resilience evidence for the 100× scale claim (VERDICT r2 task
8; extended r5 to the extension operators per VERDICT r4 task 5).

Part 1 — level pipeline: run level1→level2 over (a) the uniform
8-site domain and (b) a skewed remap where sites 1-4 collapse onto
site 1 (~50 % of all rows on ONE key — every site_no-keyed shuffle,
window and as-of in the pipeline hits the hot key), and report
best-of-N wall times + the skew/uniform ratio. AQE skew-join splitting
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

Usage:

    python tools/skew_bench.py CORPUS --work DIR --out FILE

CORPUS is as in ``probe.py``. The skewed documents corpus and the
event log go under ``--work``; the JSON artifact only to ``--out``.
Each timing is the best of ``RUNS`` cold runs (``probe.cold``).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.domain import levels  # noqa: E402
from cosmoz_data_pipeline_spark.domain.synth import load_domain  # noqa: E402
from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from tools.probe import cold, corpus, session, write_json  # noqa: E402

DEDUP_QUERIES = ("x_dedup_simhash_pairs", "x_dedup_components")
RUNS = 2


def best_of(spark, build) -> tuple[float, int]:
    """Best wall time of ``RUNS`` cold runs of ``build().count()``, and
    the row count."""
    best, rows = math.inf, 0
    for _ in range(RUNS):
        cold(spark)
        t0 = time.time()
        rows = build().count()
        best = min(best, time.time() - t0)
    cold(spark)
    return round(best, 3), rows


def make_skewed_docs_corpus(spark, sf_dir: str, work: str) -> str:
    """Write, under ``work``, a corpus whose documents table has
    src0-src9 remapped to src0 (~50 % of rows on one source);
    text/doc_id are untouched, so pair results are identical and only
    the distribution changes."""
    out = os.path.join(work, "skew_docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    skewed = docs.withColumn(
        "source",
        F.when(
            F.substring("source", 4, 10).cast("int") < 10, F.lit("src0")
        ).otherwise(F.col("source")),
    )
    skewed.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def skew_ratios(spark, sf_dir: str, work: str) -> dict:
    d = load_domain(spark, sf_dir)
    dims = (d["intensity"], d["silo_data"], d["all_stations"])
    uniform = d["raw_values"]
    # sites 1-4 → 1: one hot key carrying ~50 % of rows
    skewed = uniform.withColumn(
        "site_no",
        F.when(F.col("site_no") <= 4, F.lit(1)).otherwise(F.col("site_no")),
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # JVM warmup

    def level2(raw):
        return lambda: levels.run_pipeline(raw, *dims)["level2"]

    tu, ru = best_of(spark, level2(uniform))
    ts, rs = best_of(spark, level2(skewed))
    results = {
        "level2": {
            "uniform_sec": tu,
            "skewed_sec": ts,
            "ratio": round(ts / tu, 3),
            "rows": {"uniform": ru, "skewed": rs},
            "skew": "sites 1-4 -> 1 (~50% of rows on one site_no key)",
        },
    }
    skew_dir = make_skewed_docs_corpus(spark, sf_dir, work)
    for name in DEDUP_QUERIES:
        tu2, ru2 = best_of(spark, lambda: REGISTRY[name].run(spark, sf_dir))
        ts2, rs2 = best_of(spark, lambda: REGISTRY[name].run(spark, skew_dir))
        results[name] = {
            "uniform_sec": tu2,
            "skewed_sec": ts2,
            "ratio": round(ts2 / tu2, 3),
            "rows": {"uniform": ru2, "skewed": rs2},
            "skew": "src0-9 -> src0 (~50% of documents on one source)",
        }
    return results


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("corpus", help="DIR (read in place) or DIR:MULT (built in DIR)")
    ap.add_argument("--work", required=True, help="skewed corpus and event log")
    ap.add_argument("--out", required=True, help="artifact JSON path")
    args = ap.parse_args()

    spark, _log_dir = session("skew-bench", args.work)
    cores = spark.sparkContext.defaultParallelism
    try:
        sf_dir = corpus(spark, args.corpus)
        results = skew_ratios(spark, sf_dir, args.work)
    finally:
        spark.stop()
    write_json(
        args.out,
        {
            "metric": "skew_ratios",
            "sf_dir": sf_dir,
            "cores": cores,
            "runs": RUNS,
            **results,
        },
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
