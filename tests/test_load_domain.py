"""``load_domain`` binds the corpus frames into the domain SQL instead
of registering session-global temp views, and builds ``raw_base`` once:
a caller's own views survive, nothing is left behind, and the level
chain's analyzed plan carries no copied CTE prelude."""

from __future__ import annotations

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_callers_views_survive_and_none_left_behind(spark, sf_dir):
    mine = spark.range(3).selectExpr("id AS mine")
    mine.createOrReplaceTempView("events")
    before = _temp_views(spark)
    try:
        d = load_domain(spark, sf_dir)
        assert _temp_views(spark) == before
        assert spark.table("events").columns == ["mine"]
        assert d["raw_values"].count() > 0
    finally:
        spark.catalog.dropTempView("events")


def test_level4_plan_has_no_cte_copies(spark, sf_dir):
    d = load_domain(spark, sf_dir)
    level4 = levels.run_pipeline(
        d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
    )["level4"]
    assert "CTERelationDef" not in level4._jdf.queryExecution().analyzed().toString()
