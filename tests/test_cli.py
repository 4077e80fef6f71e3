"""End-to-end test of the operational entry points (reference analogs:
process_levels.sh, populate_dbs.sh)."""

from __future__ import annotations

import datetime as dt

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.cli import (
    LEVELS,
    _resolve_since,
    process_levels,
    read_level,
)
from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from tools.probe import codegen_compiles

SF01 = "/root/testdata/sf0.01"
SINCE_ALL = "1970-01-01 00:00:00"
LEVEL4_VALUES = (
    "soil_moist", "effective_depth", "rainfall", "soil_moist_filtered", "depth_filtered",
)
# generated classes a cold sf0.001 backfill compiles (117-119 measured)
COLD_BACKFILL_COMPILES = 117


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _tag_jobs(spark) -> dict[str, set[int]]:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    return {
        name: set(tracker.getJobIdsForTag(f"cosmoz-level-{name}")) for name in LEVELS
    }


@pytest.fixture(scope="module")
def sf01_backfill(spark, tmp_path_factory):
    """One sf0.01 backfill under a caller job group, with the level-tag
    job ids it added and the cache state it left behind."""
    # start from an empty cache: other tests' registry queries persist
    spark.catalog.clearCache()
    sc = spark.sparkContext
    out = tmp_path_factory.mktemp("sf01").joinpath("levels").as_posix()
    before = _tag_jobs(spark)
    sc.setJobGroup("cosmoz-test-backfill", "sf0.01 backfill")
    try:
        process_levels(spark, SF01, out, since=SINCE_ALL)
    finally:
        sc._jsc.clearJobGroup()
    after = _tag_jobs(spark)
    group = set(sc._jsc.sc().statusTracker().getJobIdsForGroup("cosmoz-test-backfill"))
    return {
        "out": out,
        "tag_jobs": {name: after[name] - before[name] for name in LEVELS},
        "group_jobs": group,
        "cache_empty": _cache_empty(spark),
        "caller_tags": set(sc.getJobTags()),
    }


@pytest.fixture(scope="module")
def repeat_backfills(spark, sf_dir, tmp_path_factory):
    """Classes compiled by each of three back-to-back sf0.001
    backfills into fresh directories."""
    root = tmp_path_factory.mktemp("repeat")
    compiled = []
    for i in range(3):
        spark.catalog.clearCache()
        before = codegen_compiles(spark)
        process_levels(spark, sf_dir, (root / f"levels{i}").as_posix(), since=SINCE_ALL)
        compiled.append(codegen_compiles(spark) - before)
    return compiled


def test_repeat_backfill_compiles_nothing_new(repeat_backfills):
    """The codegen cache holds a backfill's working set: a repeat
    backfill reuses its classes and compiles less than a tenth of what
    a cold one does. The slack covers codegen stages that AQE numbers
    differently from run to run (~4 classes). With Spark's 100-entry
    default, every repeat recompiled ~70 of the ~117."""
    assert all(n < 0.1 * COLD_BACKFILL_COMPILES for n in repeat_backfills[1:]), repeat_backfills


def test_cached_levels_are_coalesced(spark, sf_dir):
    """AQE sizes the plans ``process_levels`` persists, as it does every
    other shuffle: each cached level holds fewer partitions than
    ``spark.sql.shuffle.partitions``. With Spark's default
    (``canChangeCachedPlanOutputPartitioning=false``) every cached
    level kept all of them, and every stage reading it ran one task
    per partition."""
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in sc.getRDDStorageInfo()}
    d = load_domain(spark, sf_dir)
    out = levels.run_pipeline(d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"])
    persisted = [out[name].persist() for name in LEVELS[:-1]]
    try:
        out["level4"].write.format("noop").mode("overwrite").save()
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cached = [
            (info.numPartitions(), info.numCachedPartitions())
            for info in sc.getRDDStorageInfo()
            if info.id() not in before
        ]
    finally:
        for df in persisted:
            df.unpersist()
    assert len(cached) == len(persisted), cached
    assert all(parts < shuffle for parts, _ in cached), (shuffle, cached)


def test_resolve_since_timestamp_wins():
    assert _resolve_since(30, "2021-06-01 00:00:00", None) == "2021-06-01 00:00:00"


def test_resolve_since_days_window():
    now = dt.datetime(2021, 3, 2, 12, 0, 0)
    assert _resolve_since(31, None, now) == (now - dt.timedelta(days=31)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    # default window is 365 days, per the reference CLI default
    assert _resolve_since(None, None, now) == (now - dt.timedelta(days=365)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def test_backfill_then_incremental(spark, sf_dir, tmp_path):
    out = (tmp_path / "levels").as_posix()

    # backfill: everything
    sinks = process_levels(spark, sf_dir, out, since="1970-01-01 00:00:00")
    assert set(sinks) == {"level1", "level2", "level3", "level4"}
    full = {n: read_level(spark, out, n).count() for n in sinks}
    assert all(c > 0 for c in full.values())

    # partition layout: per-site directories (dynamic overwrite unit)
    l4 = read_level(spark, out, "level4")
    assert "site_no" in l4.columns

    # incremental rerun of a later window must be idempotent for the
    # untouched early rows and leave counts unchanged (same data)
    process_levels(spark, sf_dir, out, since="2021-01-02 00:00:00")
    after = {n: read_level(spark, out, n).count() for n in sinks}
    assert after == full

    # single-site run touches only that site's partitions
    process_levels(spark, sf_dir, out, since="2021-01-02 00:00:00", site_no=1)
    one = read_level(spark, out, "level1")
    assert one.where(F.col("site_no") == 2).count() > 0  # other sites intact


def test_golden_ab_temp_workflow(spark, sf_dir, tmp_path):
    """The reference's do_tests flow: golden run, then a --temp shadow
    run A/B'd per level with the reference's exact thresholds."""
    import os

    from cosmoz_data_pipeline_spark.cli import golden_ab_report

    out = (tmp_path / "levels").as_posix()
    process_levels(spark, sf_dir, out, since="1970-01-01 00:00:00")
    process_levels(spark, sf_dir, out, since="1970-01-01 00:00:00", suffix="_temp")

    # identical rerun: every level within tolerance
    report = golden_ab_report(spark, out)
    assert all(r["ok"] for r in report.values()), report
    assert all(r["rows"] > 0 for r in report.values())

    # sub-threshold drift on level4 (abs 3.29e-5 tolerance): still PASS
    l4t = os.path.join(out, "level4_temp")
    shadow = spark.read.parquet(l4t)
    drifted = shadow.withColumn("soil_moist", F.col("soil_moist") + F.lit(1e-7))
    drifted.write.mode("overwrite").parquet(l4t + "_new")
    spark.read.parquet(l4t + "_new").write.mode("overwrite").parquet(l4t)
    report = golden_ab_report(spark, out, names=("level4",))
    assert report["level4"]["ok"], report

    # out-of-tolerance drift on level4: FAIL with counted mismatches
    drifted = spark.read.parquet(l4t).withColumn(
        "soil_moist", F.col("soil_moist") + F.lit(1e-2)
    )
    drifted.write.mode("overwrite").parquet(l4t + "_new")
    spark.read.parquet(l4t + "_new").write.mode("overwrite").parquet(l4t)
    report = golden_ab_report(spark, out, names=("level4",))
    assert not report["level4"]["ok"]
    assert report["level4"]["mismatches"] > 0

    # level1 is EXACT per the reference: any numeric drift fails
    l1t = os.path.join(out, "level1_temp")
    drifted = spark.read.parquet(l1t).withColumn(
        "count", F.col("count") + F.lit(1e-9)
    )
    drifted.write.mode("overwrite").parquet(l1t + "_new")
    spark.read.parquet(l1t + "_new").write.mode("overwrite").parquet(l1t)
    report = golden_ab_report(spark, out, names=("level1",))
    assert not report["level1"]["ok"]


def test_backfill_matches_oracles(spark, sf01_backfill):
    """The written level4 values equal the level4 oracle and every
    level's row count equals its oracle's."""
    from cosmoz_data_pipeline_spark.domain import oracles
    from tools.compare import compare, duckdb_connection

    out = sf01_backfill["out"]
    con = duckdb_connection(SF01)
    # the registry view's format: timestamps as text, values to 6 places
    view = read_level(spark, out, "level4").select(
        F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("time"),
        "site_no",
        *(F.round(c, 6).alias(c) for c in LEVEL4_VALUES),
    )
    ok, msg = compare(view, oracles.LEVEL4_ORACLE, con)
    assert ok, msg
    for name in LEVELS:
        oracle_sql = getattr(oracles, f"{name.upper()}_ORACLE")
        want = con.execute(f"SELECT count(*) FROM ({oracle_sql})").fetchone()[0]
        assert read_level(spark, out, name).count() == want, name


def test_levels_written_under_per_level_tags(sf01_backfill):
    """Every level's write runs jobs under its own tag, inside the
    caller's job group, and leaves no tag on the caller's thread."""
    tag_jobs = sf01_backfill["tag_jobs"]
    assert all(tag_jobs[name] for name in LEVELS), tag_jobs
    assert set().union(*tag_jobs.values()) <= sf01_backfill["group_jobs"]
    assert sf01_backfill["caller_tags"] == set()


def test_persisted_levels_released(spark, sf_dir, tmp_path, sf01_backfill):
    """No persisted level outlives the call: not after a backfill, and
    not after one level's write fails while the others commit."""
    assert sf01_backfill["cache_empty"]

    spark.catalog.clearCache()
    out = tmp_path / "levels"
    out.mkdir()
    # level2's sink is a regular file, so its write must fail
    (out / "level2").write_text("not a directory")
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        process_levels(spark, sf_dir, out.as_posix(), since=SINCE_ALL)
    assert _cache_empty(spark)
    # the other levels still committed
    for name in ("level1", "level3", "level4"):
        assert read_level(spark, out.as_posix(), name).count() > 0, name
    assert (out / "level2").read_text() == "not a directory"
