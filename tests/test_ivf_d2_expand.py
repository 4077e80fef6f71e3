"""The IVF distance catalog_ext._d2_pair is the expanded form d2(a,b) =
a·a − 2·a·b + b·b over exact int64 — an arithmetic identity with the
pairwise fold Σ(a−b)², so swapping that fold in must leave every IVF
output bit-identical: the trained centroid table AND the final top-k,
on BOTH assignment branches (flat K<64, two-level K>=64).
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

N_VECS = 6400
N_CLUSTERS = 80  # > IVF_TWOLEVEL_MIN_K -> two-level branch
DIM = 64


def _unit(key: str) -> float:
    h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
    return h / 2**31 - 1.0


@pytest.fixture(scope="module")
def twolevel_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf_d2"))
    rows = []
    for vec_id in range(N_VECS):
        c = vec_id % N_CLUSTERS
        v = [
            _unit(f"center{c}_{dd}") + 3e-2 * _unit(f"noise{vec_id}_{dd}")
            for dd in range(DIM)
        ]
        rows.append((vec_id, v, c))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    return d


def _d2_pairwise(qa, wa, qq, ww):
    """Squared L2 as the pairwise fold Σ(a−b)²; exact in int64."""
    return F.aggregate(
        F.zip_with(qa, wa, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


@pytest.fixture()
def pairwise_d2(monkeypatch):
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    def _set():
        # the index memo holds the expanded-form run's plan
        CE._IVF_CENTROIDS.clear()
        monkeypatch.setattr(CE, "_d2_pair", _d2_pairwise)

    CE._IVF_CENTROIDS.clear()
    yield _set
    CE._IVF_CENTROIDS.clear()


def _run(spark, sf_dir, name):
    from cosmoz_data_pipeline_spark.plans.registry import (
        REGISTRY,
        release_persists,
    )

    df = REGISTRY[name].run(spark, sf_dir)
    rows = sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    release_persists()
    return rows


@pytest.mark.parametrize("name", ["x_ann_ivf_topk", "x_ann_ivf_topk_train"])
def test_flat_branch_identity(spark, sf_dir, pairwise_d2, name):
    base = _run(spark, sf_dir, name)
    assert base
    pairwise_d2()
    assert _run(spark, sf_dir, name) == base


@pytest.mark.parametrize("name", ["x_ann_ivf_topk", "x_ann_ivf_topk_train"])
def test_twolevel_branch_identity(spark, twolevel_dir, pairwise_d2, name):
    base = _run(spark, twolevel_dir, name)
    assert base
    pairwise_d2()
    assert _run(spark, twolevel_dir, name) == base
