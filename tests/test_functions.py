"""Unit tests for text/similarity column builders and the banded range
join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.functions import similarity as sim
from cosmoz_data_pipeline_spark.functions import text as tx
from cosmoz_data_pipeline_spark.operators.rangejoin import banded_range_join


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("The quick  brown fox jumps",)], "text string")
    row = df.select(tx.tokens(F.col("text")).alias("toks")).first()
    assert row.toks == ["the", "quick", "brown", "fox", "jumps"]


def test_jaccard_and_fingerprint(spark):
    df = spark.createDataFrame([("a b c", "b c d")], "x string, y string")
    j = df.select(
        tx.jaccard(tx.tokens(F.col("x")), tx.tokens(F.col("y"))).alias("j")
    ).first().j
    assert abs(j - 2 / 4) < 1e-12
    fp = spark.createDataFrame(
        [("B a a c",), ("c  a b",)], "text string"
    ).select(tx.fingerprint(F.col("text")).alias("f")).collect()
    assert fp[0].f == fp[1].f  # order/case/dup-insensitive


def test_cosine(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 2.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>")
    rows = df.select(
        sim.cosine(F.col("a"), F.col("b"), sim.norm(F.col("a")), sim.norm(F.col("b"))).alias("c")
    ).collect()
    assert abs(rows[0].c - 0.0) < 1e-12
    assert abs(rows[1].c - 1.0) < 1e-12


def test_banded_range_join(spark):
    def t(minute):
        return dt.datetime(2021, 1, 1, 0, minute)

    df = spark.createDataFrame(
        [(1, t(0), 5), (1, t(20), 5), (1, t(58), 5), (1, t(59), 7), (2, t(10), 5)],
        "site int, time timestamp, cnt int",
    )
    pairs = banded_range_join(
        df, df, key="site", left_time="time", right_time="time",
        lower_seconds=29 * 60, equal_cols=["cnt"],
    ).collect()
    got = {(r.left_time.minute, r.right_time.minute) for r in pairs}
    # 20 sees 0 (20min back); 58 does NOT see 20 (38min back > 29); 59 has
    # different cnt; cross-site never pairs
    assert got == {(20, 0)}

def test_hour_match_with_null_intensity_stops_at_hour(spark):
    """The reference takes intensities[0] from a matched hour even when
    that value is missing -> intensity_corr 1.0; it must NOT fall
    through to the as-of fallbacks (ADVICE r1/r2 latent divergence)."""
    from pyspark.sql import functions as F

    from cosmoz_data_pipeline_spark.domain.levels import LEVEL1_FIELDS, level1_to_level2

    ts = "2021-01-01 06:10:00"
    l1 = spark.createDataFrame(
        [
            tuple(
                [ts, 1, 0]
                + [
                    1000.0 if f == "count" else 10.0
                    for f in LEVEL1_FIELDS
                ]
            )
        ],
        "time string, site_no int, flag int, "
        + ", ".join(f"{f} double" for f in LEVEL1_FIELDS),
    ).withColumn("time", F.col("time").cast("timestamp_ntz"))
    # one intensity row IN the reading's hour with NULL value, plus a
    # non-null earlier row the backward as-of would otherwise pick up
    intensity = spark.createDataFrame(
        [("2021-01-01 06:00:00", 1, None), ("2021-01-01 04:00:00", 1, 123.0)],
        "time string, site_no int, intensity double",
    ).withColumn("time", F.col("time").cast("timestamp_ntz"))
    silo = spark.createDataFrame(
        [], "time timestamp_ntz, site_no int, average_temperature double, average_humidity double"
    )
    stations = spark.createDataFrame(
        [(1, 0.0075, 1000.0, 100.0, 1.0, 1.0)],
        "site_no int, beta double, ref_pressure double, ref_intensity double, "
        "latit_scaling double, elev_scaling double",
    )
    for big in (False, True):
        row = level1_to_level2(l1, intensity, silo, stations, big=big).collect()[0]
        # hour row existed with NULL value -> corr 1.0, NOT 123/100
        assert row.intensity_corr == 1.0


def test_srp_planes_scale_with_corpus():
    """Adaptive SRP banding: 2^r buckets track ceil(n/8) so expected
    bucket occupancy stays ~8 at any corpus size, clamped to [8, 30]."""
    from cosmoz_data_pipeline_spark.functions.similarity import srp_planes_for

    assert srp_planes_for(1) == 8
    assert srp_planes_for(646) == 8       # test-SF corpus: legacy layout
    assert srp_planes_for(2048) == 8      # 2048/8 = 256 = 2^8 exactly
    assert srp_planes_for(2049) == 9
    assert srp_planes_for(2582) == 9
    assert srp_planes_for(1_000_000) == 17
    assert srp_planes_for(10**12) == 30   # clamp
    # 2^r always covers ceil(n/8)
    for n in (7, 8, 9, 100, 4096, 4097, 123456):
        r = srp_planes_for(n)
        assert 2 ** r >= -(-n // 8) or r == 30
