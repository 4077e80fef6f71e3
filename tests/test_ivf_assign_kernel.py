"""The IVF assignment kernel (catalog_ext._ivf_assign_kernel) computes
every Lloyd and add assignment in an Arrow/numpy mapInPandas pass whose
float64 matmuls are EXACT integer arithmetic below the
2^22-per-component guard. It must pick the same centroid as the
expression path that ranks query probes (_ivf_candidates + lowest
(d2, j)) on BOTH assignment branches (flat K<64, two-level K>=64),
so swapping that expression path in for the kernel must leave every
IVF output bit-identical: the trained centroid table (i.e. every
intermediate Lloyd assignment) AND the final top-k. Tie-breaks are the risk surface the synthetic pins: duplicate
centroid coordinates produce exactly tied d2 where the expression
path's min(struct(d2, j)) / array_sort(struct(d2, gid)) ordering must
match np.argmin's first-occurrence / stable argsort. The IVF queries
themselves are oracle-checked in tests/test_oracle_parity.py (flat)
and tests/test_ivf_twolevel_parity.py (two-level).
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
    d = str(tmp_path_factory.mktemp("ivf_assign"))
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


def _expr_assign(qv, cent_df, k, bc_sink=None):
    """(vec_id, cluster) by the expression path: the nearest
    _ivf_candidates centroid, ties to the lowest j."""
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    return (
        CE._ivf_candidates(qv, cent_df, k)
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2").alias("d"), F.col("j").alias("j"))).alias("m"))
        .select("vec_id", F.col("m.j").alias("cluster"))
    )


@pytest.fixture()
def fresh_index():
    """Clear the trained-index memo around a test, so each run trains
    (and assigns) with the assignment in force at that moment."""
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    CE._IVF_CENTROIDS.clear()
    yield CE._IVF_CENTROIDS.clear
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


def _identity(spark, sf_dir, monkeypatch, clear, name):
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    base = _run(spark, sf_dir, name)
    assert base
    clear()
    monkeypatch.setattr(CE, "_ivf_assign_kernel", _expr_assign)
    assert _run(spark, sf_dir, name) == base


@pytest.mark.parametrize("name", ["x_ann_ivf_topk", "x_ann_ivf_topk_train"])
def test_flat_branch_identity(spark, sf_dir, monkeypatch, fresh_index, name):
    _identity(spark, sf_dir, monkeypatch, fresh_index, name)


@pytest.mark.parametrize("name", ["x_ann_ivf_topk", "x_ann_ivf_topk_train"])
def test_twolevel_branch_identity(
    spark, twolevel_dir, monkeypatch, fresh_index, name
):
    _identity(spark, twolevel_dir, monkeypatch, fresh_index, name)


def _synthetic(spark, n_cents: int):
    """Tie-heavy assignment inputs: every vector replicated 4x and
    centroid coordinates duplicated (cent j and j + n/2 share wa), so
    d2 ties are everywhere and only matching tie-break order keeps
    the two paths identical."""
    from cosmoz_data_pipeline_spark.functions import similarity as sim

    base = [
        [(i * 7 + dd * 3) % 11 - 5 for dd in range(DIM)]
        for i in range(n_cents // 2)
    ]
    cents = [(j, base[j % (n_cents // 2)]) for j in range(n_cents)]
    vec_rows = [
        (4 * i + rep, base[i % (n_cents // 2)])
        for i in range(60)
        for rep in range(4)
    ]
    qv = (
        spark.createDataFrame(vec_rows, "vec_id long, qa array<bigint>")
        .withColumn("qq", sim.idot_raw(F.col("qa"), F.col("qa")))
    )
    cent_df = spark.createDataFrame(cents, "j int, wa array<bigint>")
    return qv, cent_df


@pytest.mark.parametrize("n_cents", [16, 64])  # flat and two-level
def test_tie_break_identity_direct(spark, n_cents):
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    qv, cent_df = _synthetic(spark, n_cents)
    hof = {
        r["vec_id"]: r["cluster"]
        for r in _expr_assign(qv, cent_df, n_cents).collect()
    }
    krn = {
        r["vec_id"]: r["cluster"]
        for r in CE._ivf_assign_kernel(qv, cent_df, n_cents).collect()
    }
    assert len(hof) == 240
    assert krn == hof


def test_exactness_guard_raises(spark):
    from cosmoz_data_pipeline_spark.plans import catalog_ext as CE

    qv, cent_df = _synthetic(spark, 16)
    big = cent_df.withColumn(
        "wa",
        F.transform(F.col("wa"), lambda x: x + F.lit(1 << 23).cast("bigint")),
    )
    with pytest.raises(RuntimeError, match="exactness guard"):
        CE._ivf_assign_kernel(qv, big, 16)
