"""What ``build_session`` trades for per-job latency: a generated-class
cache sized to the level chain, and no per-Column call-site capture."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from cosmoz_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES


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
