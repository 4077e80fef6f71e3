"""Stage attribution for x_embed_cosine_neardup — the most expensive
x1000 query after round 10 retired the IVF training cost
(SCALE_r10.json: 156.6 s at x1000). Times COLD PREFIXES of the
query's own pipeline (persists released, memos cleared between
prefixes), so stage costs are prefix DIFFERENCES:

  vecs     — quantized vector table (quantize + qnorm, one scan)
  bands    — + SRP band/bucket projection (in-row integer folds
             against the broadcast plane bank)
  cand     — + banded self-join + distinct (the candidate pairs)
  screen   — + the head-16 Cauchy–Schwarz pre-verify screen
             (the query's own gate, profile.prescreen_head)
  full     — the shipped registry query end-to-end (verify join +
             threshold on top of screen)

Prefix differences over-attribute shared work to the earlier stage
when Spark fuses scans (same caveat LEVEL4_STAGES.json documents);
the full-query time in the same session is the comparator. Row
counts per stage double as scale metrics (candidates, screened
pairs, output pairs).

Usage: python tools/neardup_stage_probe.py [dir:mult ...]
  default corpora: x100 and x1000.
Writes NEARDUP_STAGES.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark import profile  # noqa: E402
from cosmoz_data_pipeline_spark.functions import similarity as sim  # noqa: E402
from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext as CE  # noqa: E402
from cosmoz_data_pipeline_spark.plans.registry import (  # noqa: E402
    release_persists,
    scoped_persist,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402

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

    def build_vecs():
        return scoped_persist(
            CE._emb_aug(spark, sf_dir)
            .select("vec_id", sim.quantize(CE.F.col("v")).alias("qv"))
            .select(
                "vec_id", "qv", sim.qnorm(CE.F.col("qv")).alias("nrm")
            )
        )

    def build_bands(vecs):
        # project exactly as the query does: the SRP kernel at the
        # banding sized from the augmented corpus count
        planes = sim.srp_planes_for(CE._emb_stats(spark, sf_dir).aug_n)
        return scoped_persist(
            sim.srp_band_buckets_kernel(
                vecs,
                CE.NEARDUP_BANDS,
                planes,
                CE.EMBED_DIM,
                vec_col="qv",
                quantized=True,
            )
        )

    _timed(spark, rec, "vecs", lambda: build_vecs().count())
    _timed(spark, rec, "bands", lambda: build_bands(build_vecs()).count())
    _timed(
        spark,
        rec,
        "cand",
        lambda: CE._neardup_cands(spark, sf_dir)[1].count(),
    )

    def screened():
        vecs, cand = CE._neardup_cands(spark, sf_dir)
        head = profile.prescreen_head(CE._emb_stats(spark, sf_dir).aug_n)
        rec["prescreen_head"] = head
        if not head:
            return None
        return CE._neardup_prescreen(vecs, cand, head).count()

    _timed(spark, rec, "screen", screened)
    _timed(
        spark,
        rec,
        "full",
        lambda: REGISTRY["x_embed_cosine_neardup"].run(spark, sf_dir).count(),
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
        app_name="neardup-stage-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "metric": "neardup_stage_probe",
        "unit": "sec",
        "policy": "cold prefixes (persists released, memos cleared per "
        "prefix); stage cost = prefix difference, over-attributing fused "
        "scan work to earlier stages; 'full' in the same session is the "
        "comparator",
        "corpora": {},
    }
    for d, mult in corpora:
        print(f"x{mult}:", flush=True)
        out["corpora"][f"x{mult}"] = probe_once(spark, d)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "NEARDUP_STAGES.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
