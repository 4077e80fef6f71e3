"""level2's big shape (domain/levels.py ``_fused_temporal_attach``) is
a physical reshape only: resolving the hour-grain intensity match,
day-grain SILO pick and both as-of fallbacks through ONE (site,
week-bucket) shuffle must produce row-for-row what the small
three-join shape produces — including hour gaps (backward as-of), the
late-starting site 3 (forward as-of), the intensity-less site 8
(corr = 1.0), silo days missing / at 13:00, and as-of values carried
across empty week buckets past null values.

Corpus: sf0.01 (spans ~17 days = 3 week-buckets, so the cross-bucket
as-of carry is actually exercised; sf0.001 fits in one bucket).
"""

from __future__ import annotations

import datetime as dt

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain

SF_DIR = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda t: tuple((x is None, str(type(x)), x) for x in t),
    )


def _chain(d, big: bool):
    l1 = levels.raw_to_level1(d["raw_values"], big=big)
    l2 = levels.level1_to_level2(
        l1, d["intensity"], d["silo_data"], d["all_stations"], big=big
    )
    return l2, levels.level3_to_level4(levels.level2_to_level3(l2, d["all_stations"]))


def test_level2_fused_identity_on_domain_corpus(spark):
    d = load_domain(spark, SF_DIR)
    base2, base4 = (_rows(df) for df in _chain(d, big=False))
    assert base2 and base4
    # cross-bucket as-of carry + in-bucket pick gates, end to end
    # through level4
    big2, big4 = (_rows(df) for df in _chain(d, big=True))
    assert big2 == base2
    assert big4 == base4


def test_level2_fused_pick_gates_edge_times(spark):
    """Fact rows exactly AT an hour/day start must see their pick row
    (picks order before probes at equal time), and a fused day gate
    must not leak a neighboring day's SILO row across midnight.

    Site 2 drives the bucketed as-of carry: value rows sparse across
    empty week-buckets, a null value mid-series (skipped by the carry
    as by last(ignorenulls)), and value rows exactly at probe times
    (rt == lt: visible backward, hidden forward, and matched by the
    hour pick first)."""
    base_t = dt.datetime(2021, 1, 1)
    fmt = "%Y-%m-%d %H:%M:%S"
    probes2 = [
        ((base_t + dt.timedelta(hours=6 * i)).strftime(fmt), 2) for i in range(200)
    ]
    vals2 = [
        (
            (base_t + dt.timedelta(days=11 * i, hours=1)).strftime(fmt),
            2,
            None if i == 4 else 100.0 * (i + 1),
        )
        for i in range(6)
    ] + [
        ((base_t + dt.timedelta(hours=6 * 10)).strftime(fmt), 2, 555.0),
        ((base_t + dt.timedelta(hours=6 * 150)).strftime(fmt), 2, 777.0),
    ]
    raw = spark.createDataFrame(
        [
            # site 1: reading exactly at hour + day start
            ("2021-01-04 00:00:00", 1),
            # site 1: reading in an hour with no intensity row
            ("2021-01-04 05:10:00", 1),
            # site 1: reading the day after the only silo day
            ("2021-01-05 00:00:00", 1),
        ]
        + probes2,
        "t string, site_no int",
    ).selectExpr(
        "CAST(t AS TIMESTAMP) AS time",
        "site_no",
        "CAST(0 AS INT) AS flag",
        "CAST(1500 AS BIGINT) AS count",
        "9.6e2 AS pressure1",
        "2.1e1 AS internal_temperature",
        "3.1e1 AS internal_humidity",
        "1.2e1 AS battery",
        "1.6e1 AS tube_temperature",
        "2.1e1 AS tube_humidity",
        "0e0 AS rain",
        "1e0 AS vwc1",
        "1e0 AS vwc2",
        "1e0 AS vwc3",
        "9.5e2 AS pressure2",
        "1e1 AS external_temperature",
        "5e1 AS external_humidity",
    )
    intensity = spark.createDataFrame(
        [("2021-01-04 00:00:00", 1, 120.0)] + vals2,
        "t string, site_no int, intensity double",
    ).selectExpr("CAST(t AS TIMESTAMP) AS time", "site_no", "intensity")
    silo = spark.createDataFrame(
        [("2021-01-04 06:00:00", 1, 15.0, 45.0)],
        "t string, site_no int, average_temperature double, average_humidity double",
    ).selectExpr(
        "CAST(t AS TIMESTAMP) AS time",
        "site_no",
        "average_temperature",
        "average_humidity",
    )
    stations = spark.createDataFrame(
        [(1, 6.5e-3, 9.55e2, 1.17e2, 0.61, 1.02), (2, 6.5e-3, 9.55e2, 1e2, 0.61, 1.02)],
        "site_no int, beta double, ref_pressure double, "
        "ref_intensity double, latit_scaling double, elev_scaling double",
    )

    def run(big):
        # raw rows here are already deduped/flagged level1-shaped input
        return levels.level1_to_level2(raw, intensity, silo, stations, big=big)

    base = _rows(run(False))
    assert _rows(run(True)) == base
    # site 2 picks every non-null value: 100-400 by as-of (the first
    # probe forward, later ones carried backward across empty weeks and
    # past the null), 555 and 777 by their hour
    corr2 = {
        r["intensity_corr"]
        for r in run(True).where("site_no = 2").select("intensity_corr").collect()
    }
    assert corr2 == {1.0, 2.0, 3.0, 4.0, 5.55, 7.77}
