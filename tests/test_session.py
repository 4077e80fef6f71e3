"""What ``build_session`` trades for per-job latency: a generated-class
cache sized to the level chain, no per-Column call-site capture, and
AQE coalescing of cached plans (also set on a live session by
``harden_session``)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from cosmoz_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, harden_session

CACHED_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def test_build_session_sizes_codegen_cache_and_drops_call_sites(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_still_named_without_call_sites(spark, sf_dir):
    """Without call-site capture an analysis error loses only the
    Python line that built the failing Column: a level builder fed a
    frame missing a column still fails at build time, naming it."""
    raw = load_domain(spark, sf_dir)["raw_values"].drop("battery")
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN") as err:
        levels.raw_to_level1(raw, big=False)
    assert "`battery`" in str(err.value)


def test_build_and_harden_let_aqe_coalesce_cached_plans(spark):
    """``build_session`` sets the conf at build; ``harden_session`` sets
    it on a live session that lacks it (an externally built one)."""
    assert spark.conf.get(CACHED_COALESCE) == "true"
    assert spark.conf.isModifiable(CACHED_COALESCE)
    spark.conf.unset(CACHED_COALESCE)
    try:
        assert spark.conf.get(CACHED_COALESCE) == "false"  # Spark's default
        harden_session(spark)
        assert spark.conf.get(CACHED_COALESCE) == "true"
    finally:
        spark.conf.set(CACHED_COALESCE, "true")
