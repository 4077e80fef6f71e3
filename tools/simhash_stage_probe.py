"""Stage attribution for x_dedup_simhash_pairs — the system's largest
compounding cost at x1000 (VERDICT r12: 92.5 of x_dedup_components'
99.5 s wall is this query's candidate prefix, COMPONENTS_STAGES.json,
plus its own 37-80 s cell; it feeds two queries). Times COLD PREFIXES
of the shipped pipeline (persists released, memos cleared between
prefixes), so stage costs are prefix DIFFERENCES:

  docs     — augmented documents scan (originals + exact + near copies)
  sigs     — + the shipped signature table (the batch-vectorized
             kernel) incl. the scoped_persist the query ships
  bands    — + posexplode of the C(b,m) Manku combo keys (scan-local)
  selfjoin — + band-key self equi-join with doc_a < doc_b, NO distinct
             (separates join cost from the distinct's shuffle)
  cands    — + distinct  (= the shipped _simhash_combo_cands)
  e2e      — x_dedup_simhash_pairs end-to-end (adds the two sig joins
             + exact Hamming verify on top of cands)

Prefix differences over-attribute shared fused-scan work to the
earlier stage (same caveat as MINHASH_STAGES.json); the end-to-end
time in the same session is the comparator. Sentinels per the
round-12 protocol: cpu sentinel for host speed, io sentinel brackets
because the x1000 cells shuffle multi-GB (SCALE_r12 io_drift_note).

Usage: python tools/simhash_stage_probe.py [dir:mult ...]
  default corpora: x100 and x1000.
Writes SIMHASH_PAIRS_STAGES.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext as CE  # noqa: E402
from cosmoz_data_pipeline_spark.plans.registry import (  # noqa: E402
    release_persists,
    scoped_persist,
)
from cosmoz_data_pipeline_spark.sentinel import (  # noqa: E402
    SENTINEL_REF_SEC,
    io_sentinel_sec,
    sentinel_sec,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402
from tools.scale_corpus import ensure_corpus  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100),
    ("/tmp/cosmoz_scale_x1000", 1000),
)


def _timed(spark, rec: dict, key: str, fn):
    _cold(spark)
    hwm = _stage_hwm(spark)
    t0 = time.time()
    rows = fn()
    dt = time.time() - t0
    rec[key] = {
        "t": round(dt, 3),
        "rows": rows,
        "run_bytes": _metrics_since(spark, hwm),
    }
    release_persists()
    _cold(spark)
    print(f"    {key:10s} {dt:8.2f}s rows={rows}", flush=True)
    return rows


def probe_once(spark, sf_dir: str) -> dict:
    rec: dict = {}

    def sigs_df():
        # the query's own signature build (catalog_ext.q_dedup_simhash_pairs)
        return scoped_persist(CE._simhash_sigs_kernel(CE._docs_aug(spark, sf_dir)))

    def n_docs():
        return CE._docs_stats(spark, sf_dir).aug_n

    _timed(spark, rec, "docs", lambda: CE._docs_aug(spark, sf_dir).count())
    _timed(spark, rec, "sigs", lambda: sigs_df().count())
    _timed(
        spark,
        rec,
        "bands",
        lambda: CE._simhash_band_rows(sigs_df(), n_docs()).count(),
    )

    # the query's own band join, incl. its profile.band_shj hint gate
    def selfjoin_count():
        return CE._simhash_band_join(sigs_df(), n_docs()).count()

    _timed(spark, rec, "selfjoin", selfjoin_count)
    _timed(
        spark,
        rec,
        "cands",
        lambda: CE._simhash_combo_cands(sigs_df(), n_docs()).count(),
    )
    _timed(
        spark,
        rec,
        "e2e",
        lambda: REGISTRY["x_dedup_simhash_pairs"].run(spark, sf_dir).count(),
    )
    return rec


def main() -> None:
    args = sys.argv[1:]
    corpora = (
        [(a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1])) for a in args]
        if args
        else list(DEFAULT_CORPORA)
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = build_session(
        app_name="simhash-stage-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "metric": "simhash_pairs_stage_probe",
        "unit": "sec",
        "policy": "cold prefixes (persists released, memos cleared per "
        "prefix); stage cost = prefix difference, over-attributing fused "
        "scan work to earlier stages; the end-to-end time in the same "
        "session is the comparator",
        "sentinel_ref_sec": SENTINEL_REF_SEC,
        "corpora": {},
    }
    for d, mult in corpora:
        if mult:
            ensure_corpus(spark, d, mult, tables=("documents",))
        snt = sentinel_sec(spark, repeats=2)
        io_pre = io_sentinel_sec(spark)
        print(f"x{mult}: sentinel {snt:.2f}s io {io_pre:.2f}s", flush=True)
        rec = probe_once(spark, d)
        io_post = io_sentinel_sec(spark)
        rec["sentinel_sec"] = snt
        rec["io_sentinel_pre_sec"] = io_pre
        rec["io_sentinel_post_sec"] = io_post
        for k, v in list(rec.items()):
            if isinstance(v, dict) and "t" in v:
                v["t_normalized"] = round(v["t"] * SENTINEL_REF_SEC / snt, 3)
        out["corpora"][f"x{mult}"] = rec
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SIMHASH_PAIRS_STAGES.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
