"""Benchmark harness: runs EVERY registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

Round 5 (VERDICT r4 task 1): the timed set is the FULL registry — a
query that is correct but untimed has no regression signal, and 21 of
the 50 r4 queries were exactly that. "value" remains the sum over the
whole set.

IVF train/search split (VERDICT r4 task 2): `x_ann_ivf_topk` and
`x_ann_ivf_topk_train` are timed COLD (centroid memo cleared before
every run — the one-time index-build cost), while
`x_ann_ivf_topk_search` is timed WARM (the memoized centroid DataFrame
is rebuilt outside the timer first) — the steady-state per-query cost
of the train-once/search-many deployment. Round ≤4 bench never cleared
the memo, so its x_ann_ivf_topk number silently measured the warm path
after pass 1.

Each query is forced with a count() (no driver-side row
materialization — we measure engine execution, not Arrow transfer). A
warmup run of a trivial action first absorbs JVM/codegen startup.
Every query runs three times and reports the fastest run: we are
measuring the engine's steady-state plan execution, not JIT warmup or
transient host noise.

count() caveat (found round 9): Catalyst prunes FINAL-projection
expressions a count does not need — for level4 that is the ±3h
collect_list frame windows themselves (the Window node survives only
where filters depend on it). Every BENCH/SCALE artifact since round 1
uses this same policy, so cross-round and vs-BASELINE.json
comparisons stay apples-to-apples, and correctness runs (driver gate,
tools/check_all.py) fully materialize every column — the pruned work
is verified correct, just not timed here. Full-materialization
timings live in the noop-write probes (`tools/probe.py level4`,
LEVEL4_STAGES.json); set SPARK_GRAFT_BENCH_FORCE=noop to time THIS
harness with a noop write instead of count() (off the comparable
record — do not hand such totals to the BASELINE comparison).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext  # noqa: E402
from cosmoz_data_pipeline_spark.sentinel import SENTINEL_REF_SEC, sentinel_sec  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402

# Timed COLD including the index build; everything else is also cold
# (caches + corpus-metadata memos cleared) but has no index to build.
_IVF_COLD = {"x_ann_ivf_topk", "x_ann_ivf_topk_train"}
# Timed WARM against the memoized centroid table (rebuilt untimed).
_IVF_WARM = {"x_ann_ivf_topk_search"}


def _cold(spark) -> None:
    """Cold-cache reset: scope-tracked persists, the SQL cache, and the
    corpus-metadata/index memos (centroids, augmented-corpus counts,
    copy-id offsets)."""
    release_persists()
    spark.catalog.clearCache()
    catalog_ext._IVF_CENTROIDS.clear()
    catalog_ext.clear_counts()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = build_session(app_name="cosmoz-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer reads
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # drift sentinel (round 12): a frozen, never-optimized workload
    # timed in every capture so cross-round totals are interpretable
    # without re-running old commits — see cosmoz_data_pipeline_spark/
    # sentinel.py. Captured BEFORE and AFTER the query passes: the
    # pair bounds within-session drift too.
    sent_pre = sentinel_sec(spark)

    # Measurement policy (since round 3 — r2 numbers were warm-cache
    # min-of-2, not comparable): cold-cache before EVERY run, min-of-3
    # absorbs host/JIT noise.
    timings: dict[str, float] = {}
    # None until a measurement lands: if st1 is absent from the run
    # (trimmed registry) the artifact emits null, not the non-standard
    # JSON 'Infinity' (ADVICE r13)
    st1_write = None
    for _pass in range(3):
        for name in REGISTRY:
            q = REGISTRY[name]
            _cold(spark)
            if name in _IVF_WARM:
                # rebuild the index OUTSIDE the timer, then free the
                # warm-up's scoped persists/caches — only the
                # checkpointed centroid blocks survive into the timed
                # run, exactly the steady-state deployment state
                REGISTRY["x_ann_ivf_topk_train"].run(spark, sf_dir).count()
                release_persists()
                spark.catalog.clearCache()
            t0 = time.time()
            df = q.run(spark, sf_dir)
            t_build = time.time() - t0
            if os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "noop":
                # full materialization: nothing pruned, off the
                # comparable record (see docstring caveat)
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            if name == "st1_incremental_overwrite":
                # the query's writes (backfill + incremental
                # dynamic-overwrite) run eagerly inside run(); the
                # returned DataFrame is the sink READ-BACK, which only
                # the oracle-compare contract pays (ST1_STAGES.json) —
                # record the deployment-relevant write leg separately
                t_b = round(t_build, 3)
                st1_write = t_b if st1_write is None else min(st1_write, t_b)
    _cold(spark)
    sent_post = sentinel_sec(spark)
    sent = min(sent_pre, sent_post)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "all_registry_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "st1_write_sec": st1_write,
                "st1_note": "st1_incremental_overwrite returns a full-sink "
                "read-back that exists only for the oracle-compare contract "
                "(ST1_STAGES.json: 2.8 s of 8.7 at sf0.1 when materialized); "
                "under THIS harness's count() force the read-back collapses "
                "to parquet count-star metadata (measured: total-write gap "
                "~0.1 s), so the headline already approximates the "
                "deployment-paid write leg, reported separately as "
                "st1_write_sec (build+backfill+incremental overwrite, "
                "min-of-3). The oracle-compare gate (tools/check_all.py, "
                "driver) is what pays the materialized read.",
                "sentinel_sec": sent,
                "sentinel_pre_sec": sent_pre,
                "sentinel_post_sec": sent_post,
                "sentinel_ref_sec": SENTINEL_REF_SEC,
                "value_normalized": round(total * SENTINEL_REF_SEC / sent, 3),
                "sentinel_note": "normalized = raw * (sentinel_ref_sec / "
                "sentinel_sec): what this total would read on the "
                "reference-speed host. Compare value_normalized across "
                "rounds; raw value only within one session.",
                "policy": "min-of-3, cold cache per run (persists, SQL cache and "
                "index/corpus memos cleared before every run; x_ann_ivf_topk_search "
                "alone runs against a warm centroid memo rebuilt outside the timer). "
                "Round <=4 benches timed a 29-query HEADLINE subset and never "
                "cleared the IVF memo, so their x_ann_ivf_topk was warm after "
                "pass 1 — r5 cold numbers for it are honestly larger."
                + (
                    " FORCE=noop: full materialization, NOT comparable to "
                    "count()-policy rounds or BASELINE.json."
                    if os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "noop"
                    else ""
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
