"""Domain (cosmoz level-pipeline) queries — the parity core.

Covers SURVEY §2 operators: S1/S2 scans, P1-P7 predicates, J1
broadcast dim join, J3 day-grain join, J4 hour-grain join, J5/J6
as-of fallbacks, J7-J9 dedup, A1-A3 window aggregates, W1-W4 windows,
F1-F18 scalar kit, T2 copy/retag — each exercised end-to-end by the
level transforms and checked against an independent DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..domain import levels, oracles
from ..domain.synth import domain_prelude, load_domain
from ..operators.scan_local import write_time_tiled
from .registry import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt_time(df: DataFrame) -> DataFrame:
    return df.withColumn("time", F.date_format("time", _TS_FMT))


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


_L4_VALUES = ["soil_moist", "effective_depth", "rainfall", "soil_moist_filtered", "depth_filtered"]


def _level4_view(l4: DataFrame) -> DataFrame:
    """level4 as the registry compares it: formatted time, values
    rounded to 6 places."""
    return _r6(_fmt_time(l4), _L4_VALUES).select("time", "site_no", *_L4_VALUES)


def _pipeline(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    d = load_domain(spark, sf_dir)
    return levels.run_pipeline(
        d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
    )


def _on_raw_sink(name: str, raw: DataFrame, view) -> DataFrame:
    """``view(sink)`` over ``raw`` written as a 16-file layout-contracted
    sink in a fresh scratch dir, detached from the sink. 16 files over
    the small corpora keep per-site file spans near the 29-min window,
    so boundary stitch + zone fix fire constantly under the oracle gate
    (the at-scale A/Bs use 64-256 files)."""
    # imported here: a module-level import would register the streaming
    # queries before this module's, reordering the registry
    from .catalog_streaming import _detach, _scratch

    scratch = _scratch(name)
    sink = f"{scratch}/raw_sink"
    write_time_tiled(raw, sink, n_files=16)
    return _detach(view(sink), scratch)


@register(
    "domain_raw_values",
    f"""{domain_prelude()}
SELECT strftime("time", '%Y-%m-%d %H:%M:%S') AS time, site_no, flag, count,
       pressure1, internal_temperature, internal_humidity, battery, tube_temperature,
       tube_humidity, rain, vwc1, vwc2, vwc3, pressure2, external_temperature,
       external_humidity
FROM raw_values""",
    doc="S3-analog source materialization: the synthetic raw_values table "
    "(schema per /root/reference/pipeline/csv_influx_converter.py:350-374).",
)
def q_domain_raw_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_time(load_domain(spark, sf_dir)["raw_values"])


@register(
    "level1",
    oracles.LEVEL1_ORACLE,
    doc="raw→level1: W1 lag-diff, J7-J9 29-min windowed dedup, F8 flag ladder "
    "(/root/reference/pipeline/cosmoz_process_levels.py:340-429).",
)
def q_level1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_time(_pipeline(spark, sf_dir)["level1"])


@register(
    "level1_scan_local",
    oracles.LEVEL1_ORACLE,
    doc="W1/J7-J9 storage-backed at-scale shape: raw_values written as the "
    "layout-contracted sink (time-sorted site-tiled parquet, "
    "operators/scan_local.py), then raw→level1 with BOTH wide sequence "
    "exchanges (prev_count lag + 29-min duplicate window — 73 of level1's "
    "77 s at x1000, LEVEL1_STAGES.json) replaced by per-file scan-local "
    "passes and a per-(site, file) boundary stitch. Same oracle as level1: "
    "the physical reshape must be row-for-row invisible.",
)
def q_level1_scan_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_domain(spark, sf_dir)["raw_values"]
    return _on_raw_sink(
        "l1sl", raw, lambda sink: _fmt_time(levels.raw_to_level1_scan_local(spark, sink))
    )


@register(
    "level4_scan_local",
    oracles.LEVEL4_ORACLE,
    doc="The full level1→level4 chain over the layout-contracted raw sink "
    "with the scan-local level1 prefix (round 15, VERDICT r14 task 1): "
    "ADOPTED on LEVEL4_SCANLOCAL_AB.json — interleaved x1000, identity "
    "pinned at 30.79M rows, B wins 3/3 pairs (best 114.9→104.9 s) in a "
    "flagged-HEALTHY io window with chain shuffle 20.37→6.67 GiB (-67%). "
    "Same oracle as level4: the physical reshape must be row-for-row "
    "invisible.",
)
def q_level4_scan_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_domain(spark, sf_dir)
    dims = (d["intensity"], d["silo_data"], d["all_stations"])
    return _on_raw_sink(
        "l4sl",
        d["raw_values"],
        lambda sink: _level4_view(levels.run_pipeline(sink, *dims)["level4"]),
    )


@register(
    "level2",
    oracles.LEVEL2_ORACLE,
    doc="level1→level2: J1 broadcast dim join, J3 day-grain SILO join, J4 "
    "hour-grain intensity join, J5/J6 as-of fallbacks, F1-F4/F9/F10 physics "
    "(/root/reference/pipeline/cosmoz_process_levels.py:171-314).",
)
def q_level2(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fmt_time(_pipeline(spark, sf_dir)["level2"])
    return _r6(df, ["press_corr", "wv_corr", "intensity_corr", "corr_count"]).select(
        "time", "site_no", "flag", "count", "press_corr", "wv_corr",
        "intensity_corr", "corr_count", "rain",
    )


@register(
    "level3",
    oracles.LEVEL3_ORACLE,
    doc="level2→level3: J1 broadcast join, F5-F8 soil-moisture physics + flag ladder "
    "(/root/reference/pipeline/cosmoz_process_levels.py:96-168).",
)
def q_level3(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fmt_time(_pipeline(spark, sf_dir)["level3"])
    return _r6(df, ["soil_moist", "effective_depth", "rainfall"]).select(
        "time", "site_no", "flag", "soil_moist", "effective_depth", "rainfall"
    )


@register(
    "level4",
    oracles.LEVEL4_ORACLE,
    doc="level3→level4: W3/A1 centered ±3h+1s range-frame average with LIMIT-7 cap "
    "(/root/reference/pipeline/cosmoz_process_levels.py:42-93).",
)
def q_level4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _level4_view(_pipeline(spark, sf_dir)["level4"])


@register(
    "t02_copy_retag_series",
    f"""{domain_prelude()}
SELECT strftime("time", '%Y-%m-%d %H:%M:%S') AS time, 99 AS site_no, intensity
FROM intensity WHERE site_no = 2""",
    doc="T2 copy/retag (INSERT SELECT): one site's intensity series rewritten "
    "under a new site tag (/root/reference/pipeline/csv_influx_converter.py:53-93).",
)
def q_copy_retag(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_domain(spark, sf_dir)
    return (
        d["intensity"]
        .where(F.col("site_no") == 2)
        .select(
            F.date_format("time", _TS_FMT).alias("time"),
            F.lit(99).alias("site_no"),
            "intensity",
        )
    )


@register(
    "s14_delete_where_antijoin",
    f"""{domain_prelude()}
SELECT strftime(r."time", '%Y-%m-%d %H:%M:%S') AS time, r.site_no, r.count, r.battery
FROM raw_values r
WHERE NOT EXISTS (
    SELECT 1 FROM raw_values b
    WHERE b.site_no = r.site_no AND b."time" = r."time" AND b.battery < 10)""",
    doc="S14 point-delete expressed as an anti-join rewrite (fix_raws, "
    "/root/reference/pipeline/cosmoz_process_levels.py:432-453): delete "
    "per-(site,time) keys then keep the rest.",
)
def q_delete_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_domain(spark, sf_dir)["raw_values"]
    bad_keys = raw.where(F.col("battery") < 10).select("site_no", "time")
    return raw.join(bad_keys, ["site_no", "time"], "left_anti").select(
        F.date_format("time", _TS_FMT).alias("time"), "site_no", "count", "battery"
    )


@register(
    "j10_near_duplicate_pairs",
    f"""{domain_prelude()}
SELECT strftime(a."time", '%Y-%m-%d %H:%M:%S') AS time_a,
       strftime(b."time", '%Y-%m-%d %H:%M:%S') AS time_b,
       a.site_no, a.count
FROM raw_values a
JOIN raw_values b
  ON a.site_no = b.site_no
 AND b."time" >= a."time" - INTERVAL 29 MINUTE AND b."time" < a."time"
 AND a.count = b.count
 AND a.battery = b.battery
 AND a.tube_temperature = b.tube_temperature
 AND a.rain = b.rain
 AND (CASE WHEN a.pressure1 <> 0 THEN a.pressure1 ELSE a.pressure2 END)
   = (CASE WHEN b.pressure1 <> 0 THEN b.pressure1 ELSE b.pressure2 END)""",
    doc="J10 fuzzy near-duplicate semi-join: 5 probe fields equal within a "
    "29-min lookback (/root/reference/pipeline/detect_duplicates.py:59-88), "
    "as a banded range self-join (time-bucket expansion, no skewed "
    "site-only shuffle).",
)
def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import banded_range_join

    raw = load_domain(spark, sf_dir)["raw_values"]
    probe = raw.select(
        "site_no",
        "time",
        "count",
        "battery",
        "tube_temperature",
        "rain",
        F.when(F.col("pressure1") != 0, F.col("pressure1"))
        .otherwise(F.col("pressure2"))
        .alias("probe_pressure"),
    )
    pairs = banded_range_join(
        probe,
        probe,
        key="site_no",
        left_time="time",
        right_time="time",
        lower_seconds=29 * 60,
        equal_cols=["count", "battery", "tube_temperature", "rain", "probe_pressure"],
    )
    return pairs.select(
        F.date_format("left_time", _TS_FMT).alias("time_a"),
        F.date_format("right_time", _TS_FMT).alias("time_b"),
        "site_no",
        "count",
    )


@register(
    "a02_last_star_selector",
    f"""{domain_prelude()}
SELECT site_no, strftime(CAST("time" AS DATE), '%Y-%m-%d') AS day,
       strftime("time", '%Y-%m-%d %H:%M:%S') AS time, count, battery
FROM (
    SELECT *, row_number() OVER (PARTITION BY site_no, CAST("time" AS DATE)
                                 ORDER BY "time" DESC) AS rn
    FROM raw_values) t
WHERE rn = 1""",
    doc="A2 LAST(*) selector: the latest full row per (site, day) — the "
    "reference's per-row `SELECT LAST(*)` SILO lookup "
    "(/root/reference/pipeline/cosmoz_process_levels.py:209-216) as ONE "
    "max_by(struct, time) aggregation: map-side partial agg, single "
    "shuffle on the group key, no window sort.",
)
def q_last_star_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_domain(spark, sf_dir)["raw_values"]
    picked = raw.groupBy("site_no", F.to_date("time").alias("day")).agg(
        F.max_by(F.struct("time", "count", "battery"), "time").alias("r")
    )
    return picked.select(
        "site_no",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.date_format("r.time", _TS_FMT).alias("time"),
        F.col("r.count").alias("count"),
        F.col("r.battery").alias("battery"),
    )


@register(
    "p06_row_validity_filter",
    f"""{domain_prelude()}
SELECT strftime("time", '%Y-%m-%d %H:%M:%S') AS time, site_no, pressure1, pressure2
FROM raw_values
WHERE NOT (nullif(pressure1, 0) IS NULL AND nullif(pressure2, 0) IS NULL)""",
    doc="P6 row-validity filter: drop rows whose key measurements are all "
    "missing (zero-sentinel → null, both null → invalid), the fix_raws "
    "repair predicate (/root/reference/pipeline/cosmoz_process_levels.py:"
    "438-444). Scan-local predicate — pushed to the parquet reader.",
)
def q_row_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_domain(spark, sf_dir)["raw_values"]
    p1 = F.nullif(F.col("pressure1"), F.lit(0.0))
    p2 = F.nullif(F.col("pressure2"), F.lit(0.0))
    return raw.where(~(p1.isNull() & p2.isNull())).select(
        F.date_format("time", _TS_FMT).alias("time"), "site_no", "pressure1", "pressure2"
    )


@register(
    "level4_spec_mode",
    oracles.LEVEL4_SPEC_ORACLE,
    doc="P7/J1: level4 in SQL-spec mode — the installation-date filter the "
    "deployed Python omits (/root/reference/pipeline/level3->level4.sql:"
    "63-64 vs /root/reference/pipeline/cosmoz_process_levels.py:53), "
    "restored as a broadcast dimension join + predicate per SURVEY §7.3. "
    "Site 6 installs after the series start, so its early rows drop.",
)
def q_level4_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_domain(spark, sf_dir)
    l4 = levels.run_pipeline(
        d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"],
        spec_mode=True,
    )["level4"]
    return _level4_view(l4)
