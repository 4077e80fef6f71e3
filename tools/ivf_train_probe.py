"""Per-stage attribution for the IVF train+add path (round 10,
VERDICT r9 task 1): `x_ann_ivf_topk_train` is the joint most
expensive x1000 query (158.8 s; split probe train 142 s / warm search
59 s), and "train is slow" is not actionable until the cost is pinned
to a stage — the corpus count, the quantized-vector persist, the
seed, one of the three Lloyd supersteps (assign vs update), or the
full-corpus add assignment.

Method: replicate _ivf_train's exact dataflow but EAGERLY materialize
each superstep (eager checkpoints / counts) so each stage's marginal
cold cost and shuffle/spill metrics fall out directly. The shipped
loop lazily fuses the Lloyd chain into one job, so the per-stage SUM
exceeds the shipped wall time by the fusion savings — the artifact
records the shipped end-to-end time in the same session for that
comparison. Assignment is the shipped kernel (_ivf_assign_kernel),
so attribution measures the real operators.

Usage: python tools/ivf_train_probe.py [dir:mult ...]
  default: x100, x1000
Writes IVF_TRAIN_STAGES.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time
from math import isqrt

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.plans import catalog_ext as CE  # noqa: E402
from cosmoz_data_pipeline_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    release_persists,
    scoped_persist,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from cosmoz_data_pipeline_spark.sources.tables import load_table  # noqa: E402
from cosmoz_data_pipeline_spark.sentinel import SENTINEL_REF_SEC, sentinel_sec  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100),
    ("/tmp/cosmoz_scale_x1000", 1000),
)


def _timed(spark, rec, name, fn):
    hwm = _stage_hwm(spark)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    rec[name] = {"t": round(dt, 3), "run_bytes": _metrics_since(spark, hwm)}
    print(f"    {name:14s} {dt:8.2f}s", flush=True)
    return out


def probe_once(spark, sf_dir: str) -> dict:
    CE._IVF_CENTROIDS.clear()
    _cold(spark)
    rec: dict = {}

    n = _timed(
        spark, rec, "count_n", lambda: load_table(spark, sf_dir, "embeddings").count()
    )
    k = isqrt(n)
    target = CE.IVF_TRAIN_PER_CENTROID * k
    m = (n + target - 1) // target
    rec["n"], rec["k"], rec["m"] = n, k, m

    qv = scoped_persist(CE._ivf_quantized(spark, sf_dir))
    _timed(spark, rec, "qv_persist", qv.count)
    qv_train = qv.where(F.col("vec_id") % m == 0) if m > 1 else qv

    # the shipped assignment: the numpy kernel (IVF_ASSIGN_AB.json)
    rec["assign_branch"] = "numpy_kernel"

    seed = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % m == 0)
        .select("vec_id").orderBy("vec_id").limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int").alias("j"),
            "vec_id",
        )
    )
    cent = _timed(
        spark,
        rec,
        "seed_cent0",
        lambda: CE._iter_checkpoint(
            seed.join(qv, "vec_id").select("j", F.col("qa").alias("wa")), eager=True
        ),
    )
    for it in range(CE.IVF_ITERS):
        assign = _timed(
            spark,
            rec,
            f"asg{it}",
            lambda c=cent: CE._iter_checkpoint(CE._ivf_assign_kernel(qv_train, c, k), eager=True),
        )

        def _update(c=cent, a=assign):
            upd = (
                a.join(qv_train, "vec_id")
                .groupBy("cluster")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    *[
                        F.sum(F.col("qa").getItem(i)).alias(f"s{i}")
                        for i in range(CE.EMBED_DIM)
                    ],
                )
                .select(
                    "cluster",
                    F.array(
                        *[
                            F.floor(F.col(f"s{i}") / F.col("cnt"))
                            for i in range(CE.EMBED_DIM)
                        ]
                    ).alias("uw"),
                )
            )
            return CE._iter_checkpoint(
                c.join(upd, c["j"] == upd["cluster"], "left")
                .select(c["j"], F.coalesce("uw", "wa").alias("wa")),
                eager=True,
            )

        cent = _timed(spark, rec, f"upd_cent{it}", _update)

    _timed(
        spark,
        rec,
        "add_assign",
        lambda: CE._iter_checkpoint(CE._ivf_assign_kernel(qv, cent, k), eager=True),
    )
    release_persists()
    CE._IVF_CENTROIDS.clear()

    # shipped end-to-end for the fusion-savings comparison (cold memo)
    _cold(spark)
    hwm = _stage_hwm(spark)
    t0 = time.time()
    REGISTRY["x_ann_ivf_topk_train"].run(spark, sf_dir).count()
    rec["shipped_train_total"] = {
        "t": round(time.time() - t0, 3),
        "run_bytes": _metrics_since(spark, hwm),
    }
    print(f"    shipped_total  {rec['shipped_train_total']['t']:8.2f}s", flush=True)
    release_persists()
    CE._IVF_CENTROIDS.clear()
    _cold(spark)
    return rec


def main() -> None:
    args = sys.argv[1:]
    corpora = (
        [(a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1])) for a in args]
        if args
        else list(DEFAULT_CORPORA)
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = build_session(extra_conf={"spark.ui.enabled": "true"})
    out = {
        "metric": "ivf_train_stage_probe",
        "unit": "sec",
        "policy": "each superstep eagerly checkpointed and timed cold "
        "(memo + persists cleared per corpus); per-stage sum exceeds "
        "the shipped lazily-fused train by the fusion savings — "
        "shipped_train_total in the same session is the comparator",
        "corpora": {},
    }
    out["sentinel_ref_sec"] = SENTINEL_REF_SEC
    for d, mult in corpora:
        snt = sentinel_sec(spark, repeats=2)
        print(f"x{mult}: sentinel {snt:.2f}s", flush=True)
        rec = probe_once(spark, d)
        rec["sentinel_sec"] = snt
        if "shipped_train_total" in rec:
            rec["shipped_train_total_normalized"] = round(
                rec["shipped_train_total"]["t"] * SENTINEL_REF_SEC / snt, 2
            )
        out["corpora"][f"x{mult}"] = rec
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "IVF_TRAIN_STAGES.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
