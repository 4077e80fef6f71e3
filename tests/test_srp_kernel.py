"""functions/similarity.py's SRP projection runs as an Arrow/numpy
matmul kernel (``srp_band_buckets_kernel``, round 11 — the round-10
stage probe localized 69 % of x_embed_cosine_neardup's x1000 wall to
the interpreted per-(vector, band) HOF fold it replaced). The fold
``srp_band_buckets`` stays as the reference: every (id, band, bucket)
row must be bit-identical between the two. The float64 matmul is exact
integer arithmetic below the 2^53 partial-sum envelope and the kernel
falls back to an exact int64 matmul beyond it, so the only risk
surfaces are the edge semantics the fold gets from idot's
null-coalescing — null elements, whole-null vectors, empty and ragged
arrays — and the sign boundary (s == 0 contributes no bit). These
tests pin all of them kernel-vs-fold, plus end-to-end query identity
on both SRP consumers.
"""

from __future__ import annotations

import pytest

from cosmoz_data_pipeline_spark.functions import similarity as sim
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists

DIM = 8
BANDS = 3
PLANES = 5


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _fold_and_kernel(spark, vec_df, quantized):
    fold = _rows(
        sim.srp_band_buckets(vec_df, spark, BANDS, PLANES, DIM, quantized=quantized)
    )
    kern = _rows(
        sim.srp_band_buckets_kernel(vec_df, BANDS, PLANES, DIM, quantized=quantized)
    )
    return fold, kern


def test_kernel_matches_fold_quantized_edges(spark):
    # adversarial quantized inputs: zero vector (every projection == 0,
    # strict > keeps the bit off), null elements (idot coalesces to 0),
    # whole-null and empty vectors (bucket 0), short vector (zip_with
    # null-pads), LONG vector (elements past dim pair with null weights
    # and drop), alternating signs, and components big enough
    # (|q| ~ 2e9 < 2^31) that the float64 matmul would round — forcing
    # the kernel's exact int64 fallback
    rows = [
        (0, [0] * DIM),
        (1, [1, -1, 2, -2, 3, -3, 4, -4]),
        (2, [None, 5, None, -5, 6, None, -6, 7]),
        (3, None),
        (4, []),
        (5, [9, -9, 8]),
        (6, [1, 2, 3, 4, 5, 6, 7, 8, 999, -999, 12345]),
        (7, [430_000, -430_000, 430_000, -430_000, 1, -1, 0, 430_000]),
        (8, [2_000_000_000, -2_000_000_000] * 4),
        (9, [2_000_000_000, 1, -2_000_000_000, 1, 2_000_000_000, -1, 1, -1]),
    ]
    vec_df = spark.createDataFrame(rows, "vec_id long, v array<int>")
    fold, kern = _fold_and_kernel(spark, vec_df, quantized=True)
    assert kern == fold
    assert len(kern) == len(rows) * BANDS


def test_kernel_matches_fold_raw_doubles(spark):
    # unquantized path: the kernel applies the identical floor(v*1e6)
    # IEEE grid, with null elements skipped and whole-null vectors
    # folding to bucket 0
    rows = [
        (0, [0.31, -0.29, 0.005, -0.005, 0.127, -0.127, 0.43, -0.43]),
        (1, [1e-7, -1e-7, 0.0, -0.0, 0.9999999, -0.9999999, 0.5, -0.5]),
        (2, [None, 0.25, None, -0.25, 0.125, None, -0.125, 0.0625]),
        (3, None),
        (4, []),
        # |v| up to 2000 stays inside the int32 grid bound (~2147.48)
        # but puts |q| ~ 2e9 past the float64 envelope -> int64 path
        (5, [2000.0, -2000.0, 1999.5, -1999.5, 0.1, -0.1, 2000.0, -2000.0]),
    ]
    vec_df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    fold, kern = _fold_and_kernel(spark, vec_df, quantized=False)
    assert kern == fold


def test_kernel_raises_past_grid_bound_like_quantize(spark):
    # quantize() raises rather than letting the ANSI-off int cast wrap
    # (ADVICE r7); the kernel must refuse the same inputs
    vec_df = spark.createDataFrame(
        [(0, [3000.0] * DIM)], "vec_id long, v array<double>"
    )
    with pytest.raises(Exception, match="int32 grid bound"):
        sim.srp_band_buckets_kernel(
            vec_df, BANDS, PLANES, DIM, quantized=False
        ).collect()


@pytest.mark.parametrize("name", ["x_embed_cosine_neardup", "x_ann_lsh_buckets"])
def test_query_output_identical_with_kernel(spark, sf_dir, monkeypatch, name):
    def run():
        rows = _rows(REGISTRY[name].run(spark, sf_dir))
        release_persists()
        return rows

    shipped = run()
    assert shipped, "corpus must produce rows for this test to bite"
    # reference: the interpreted fold swapped in for the kernel at
    # the query's own call site
    calls = []

    def fold(vec_df, bands, planes_per_band, dim, vec_col="v", quantized=False):
        calls.append(bands)
        return sim.srp_band_buckets(
            vec_df, vec_df.sparkSession, bands, planes_per_band, dim,
            vec_col=vec_col, quantized=quantized,
        )

    monkeypatch.setattr(sim, "srp_band_buckets_kernel", fold)
    assert run() == shipped
    assert calls, "the query must project through srp_band_buckets_kernel"


def test_bank_broadcast_memo_evicts_dead_applications(spark):
    # round 12 (ADVICE r11): the plane-bank broadcast memo is keyed by
    # applicationId and must evict-and-DESTROY entries from dead
    # applications on insert, or a long-lived process that rebuilds
    # sessions accumulates Broadcast state forever
    destroyed = []

    class FakeBc:
        def destroy(self):
            destroyed.append(True)

    stale_key = ("dead-app-id", 8, 4, 16)
    sim._SRP_BANK_BC[stale_key] = FakeBc()
    # the sweep runs on insert: drop the live app's entry (if an
    # earlier test built it) so this call takes the build branch
    live_key = (spark.sparkContext.applicationId, 8, 4, 16)
    sim._SRP_BANK_BC.pop(live_key, None)
    df = spark.createDataFrame(
        [(1, [0.1] * 16)], "vec_id int, v array<double>"
    )
    try:
        sim.srp_band_buckets_kernel(df, 8, 4, 16).collect()
        assert stale_key not in sim._SRP_BANK_BC
        assert destroyed == [True]
        live = [k for k in sim._SRP_BANK_BC if k[1:] == (8, 4, 16)]
        assert live and live[0][0] == spark.sparkContext.applicationId
    finally:
        sim._SRP_BANK_BC.pop(stale_key, None)
