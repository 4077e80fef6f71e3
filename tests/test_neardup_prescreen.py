"""The coarse pre-verify screen (catalog_ext._neardup_prescreen) is a
physical optimization: the Cauchy-Schwarz upper bound
(head_dot + tail_norm_a * tail_norm_b) / (nrm_a * nrm_b) dominates the
exact quantized cosine, so screening on it must never change the
output pair set — only how many candidates reach the full-vector
verify join. These tests pin that superset property end-to-end
(every output pair survives the screen, and the output is identical
with the scale gate forcing the screen on), on ragged vectors, and
unit-pin the bound against exact cosines on adversarial vectors. The
scale gate that engages the screen is checked against the oracle in
tests/test_catalog_gates.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark import profile
from cosmoz_data_pipeline_spark.functions import similarity as sim
from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext, release_persists


def _head(spark, sf_dir):
    return profile.prescreen_head(catalog_ext._emb_stats(spark, sf_dir).aug_n)


def _pairs(spark, sf_dir):
    rows = REGISTRY["x_embed_cosine_neardup"].run(spark, sf_dir).collect()
    release_persists()
    return {(r["vec_a"], r["vec_b"]): r["cosine"] for r in rows}


@pytest.mark.parametrize("head", [8, 16])
def test_query_output_identical_with_screen(spark, sf_dir, head):
    # the verify is per pair, so the screened query's output is the
    # unscreened output restricted to the screen's survivors: output
    # identity holds iff every output pair survives the screen
    assert _head(spark, sf_dir) == 0  # unscreened
    base = _pairs(spark, sf_dir)
    assert base, "corpus must produce near-dup pairs for this test to bite"
    vecs, cand = catalog_ext._neardup_cands(spark, sf_dir)
    kept = {
        (r["vec_a"], r["vec_b"])
        for r in catalog_ext._neardup_prescreen(vecs, cand, head).collect()
    }
    release_persists()
    assert set(base) <= kept, sorted(set(base) - kept)[:5]


def test_bound_dominates_exact_cosine(spark):
    # adversarial shapes: all-head mass, all-tail mass, sign flips on
    # the boundary between head and tail, near-identical pair at the
    # threshold — the bound must be >= the exact quantized cosine for
    # every pair, so no pair the verify would keep can be screened out
    vs = [
        [1.0] * 8 + [0.0] * 8,
        [0.0] * 8 + [1.0] * 8,
        [0.5] * 16,
        [0.5] * 8 + [-0.5] * 8,
        [0.31] * 16,
        [0.31] * 15 + [0.29],
        [-0.2] * 4 + [0.4] * 12,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "vec_id int, v array<double>"
    )
    q = df.select(
        "vec_id",
        sim.quantize(F.col("v")).alias("qv"),
    ).select("vec_id", "qv", sim.qnorm(F.col("qv")).alias("nrm"))
    h = 8
    head = F.slice("qv", 1, h)
    slim = q.select(
        "vec_id",
        head.alias("qh"),
        "nrm",
        F.sqrt(
            F.greatest(
                F.col("nrm") * F.col("nrm") - sim.idot(head, head).cast("double"),
                F.lit(0.0),
            )
        ).alias("tn"),
    )
    a = slim.select(
        F.col("vec_id").alias("ia"), F.col("qh").alias("ha"),
        F.col("nrm").alias("na"), F.col("tn").alias("ta"),
    )
    b = slim.select(
        F.col("vec_id").alias("ib"), F.col("qh").alias("hb"),
        F.col("nrm").alias("nb"), F.col("tn").alias("tb"),
    )
    full_a = q.select(F.col("vec_id").alias("ia"), F.col("qv").alias("qa"))
    full_b = q.select(F.col("vec_id").alias("ib"), F.col("qv").alias("qb"))
    got = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .join(full_a, "ia")
        .join(full_b, "ib")
        .select(
            (
                (
                    sim.idot(F.col("ha"), F.col("hb")).cast("double")
                    + F.col("ta") * F.col("tb")
                )
                / (F.col("na") * F.col("nb"))
            ).alias("ub"),
            (
                sim.idot(F.col("qa"), F.col("qb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert r["ub"] >= r["cos"] - 1e-12, (r["ub"], r["cos"])


def test_screen_actually_screens(spark, sf_dir):
    # evidence the screen is not a no-op: at least one candidate pair
    # must be eliminated before the verify join on the test corpus
    from cosmoz_data_pipeline_spark.plans.catalog_ext import (
        _neardup_cands,
        _neardup_prescreen,
    )

    vecs, cand = _neardup_cands(spark, sf_dir)
    n_all = cand.count()
    n_kept = _neardup_prescreen(vecs, cand, 16).count()
    release_persists()
    assert n_kept < n_all, (n_kept, n_all)


def test_screen_dot_variants_identical(spark, sf_dir, monkeypatch):
    # the screen's head dot (the unrolled bigint expression) computes
    # the same integer sum as the int fold and the raw bigint fold on
    # every corpus candidate, and the query output with the scale gate
    # forcing the screen on equals the unscreened output
    base = _pairs(spark, sf_dir)
    assert base
    monkeypatch.setattr(profile, "SCALE_MIN_N", 0)
    assert _head(spark, sf_dir) == 16
    assert _pairs(spark, sf_dir) == base

    h = 16
    vecs, cand = catalog_ext._neardup_cands(spark, sf_dir)
    head = F.transform(F.slice("qv", 1, h), lambda x: x.cast("bigint"))
    va = vecs.select(F.col("vec_id").alias("vec_a"), head.alias("ha"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), head.alias("hb"))
    dots = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            sim.idot(F.col("ha"), F.col("hb")).alias("fold"),
            sim.idot_raw(F.col("ha"), F.col("hb")).alias("raw"),
            sim.idot_unrolled(F.col("ha"), F.col("hb"), h).alias("unrolled"),
        )
        .collect()
    )
    release_persists()
    assert dots
    for r in dots:
        assert r["fold"] == r["raw"] == r["unrolled"], r


def test_screen_dot_variants_identical_on_ragged_vectors(spark):
    # ADVICE r11: a qv SHORTER than the head width h slices to a short
    # array; the unrolled dot reads h positional terms, so without the
    # slim-build zero-padding a missing term would propagate NULL
    # through ub and silently DROP the pair. Every pair the exact
    # verify keeps must survive the screen on ragged input — and
    # near-identical short vectors must actually SURVIVE it.
    h = 16
    vs = [
        (1, [0.4] * 4),                   # shorter than h
        (2, [0.4] * 4),                   # identical twin: cosine 1.0
        (3, [0.4] * 24),                  # longer than h
        (4, [0.4] * 24),
        (5, [0.4] * 16),                  # exactly h
        (6, [0.4] * 3 + [-0.4]),          # short, dissimilar to 1/2
    ]
    vecs = (
        spark.createDataFrame(vs, "vec_id int, v array<double>")
        .select("vec_id", sim.quantize(F.col("v")).alias("qv"))
        .select("vec_id", "qv", sim.qnorm(F.col("qv")).alias("nrm"))
    )
    ids = [i for i, _ in vs]
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "vec_a int, vec_b int"
    )
    kept = {
        (r["vec_a"], r["vec_b"])
        for r in catalog_ext._neardup_prescreen(vecs, cand, h).collect()
    }
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"), F.col("nrm").alias("na"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"), F.col("nrm").alias("nb"))
    cos = F.round(
        sim.idot(F.col("qa"), F.col("qb")).cast("double") / (F.col("na") * F.col("nb")), 6
    )
    verified = {
        (r["vec_a"], r["vec_b"])
        for r in cand.join(va, "vec_a").join(vb, "vec_b").where(cos >= 0.9).collect()
    }
    # the ragged twins' bound is cosine 1.0 >= keep threshold: the
    # pair the null-propagation bug dropped must be present
    assert {(1, 2), (3, 4)} <= verified
    assert verified <= kept, sorted(verified - kept)


def test_count_memo_pair_refills_together(spark, sf_dir):
    # the corpus stats the augmented corpora size and number their
    # copies from (count, the two copy-subset counts and max id) come
    # from one cache: they equal DuckDB's aggregates, a second call on
    # unchanged files runs no Spark job, and clear_counts() empties
    # the cache, after which the next call refills it
    from cosmoz_data_pipeline_spark.profile import id_stats
    from tools.compare import duckdb_connection

    import os

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    con = duckdb_connection(sf)
    sc = spark.sparkContext
    for table, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        want = con.execute(
            f"SELECT count(*), count_if({col} % 11 = 0), count_if({col} % 5 = 0), "
            f"max({col}) FROM {table}"
        ).fetchone()
        catalog_ext.clear_counts()
        assert not catalog_ext._AUG_OFF
        got = id_stats(spark, sf, table, col)
        assert (got.n, got.n11, got.n5, got.max_id) == want
        assert catalog_ext._AUG_OFF  # refilled
        group = f"id-stats-warm-{table}"
        sc.setJobGroup(group, "warm id_stats")
        try:
            assert id_stats(spark, sf, table, col) == got
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
