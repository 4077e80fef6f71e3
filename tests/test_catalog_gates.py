"""The three row-count scale gates in profile each pick between two
shipped shapes of one catalog_ext query: the decon gram-set kernel
(decon_kernel), the SHUFFLE_HASH band self-join (band_shj) and the
head-16 neardup pre-verify screen (prescreen_head). The test corpus
sits below SCALE_MIN_N, so tests/test_oracle_parity.py checks the
small side; here SCALE_MIN_N = 0 forces the big side, and each test asserts that
the big shape is in the plan and that the output still matches the
DuckDB oracle.
"""

from __future__ import annotations

import pytest

from cosmoz_data_pipeline_spark import profile
from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext, release_persists
from tools.compare import compare, duckdb_connection

# query -> a marker only the big shape puts in its physical plan
BIG_SHAPE = {
    "x_decontaminate": "MapInPandas",  # the gram-set kernel
    "x_dedup_simhash_pairs": "ShuffledHashJoin",  # the band-join hint
    "x_embed_cosine_neardup": str(catalog_ext._PRESCREEN_KEEP),  # screen bound
}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", sorted(BIG_SHAPE))
def test_big_shape_matches_oracle(spark, sf_dir, monkeypatch, name):
    q = REGISTRY[name]
    assert BIG_SHAPE[name] not in _plan(q.run(spark, sf_dir))
    release_persists()
    monkeypatch.setattr(profile, "SCALE_MIN_N", 0)
    try:
        df = q.run(spark, sf_dir)
        assert BIG_SHAPE[name] in _plan(df)
        ok, msg = compare(df, q.oracle, duckdb_connection(sf_dir))
    finally:
        release_persists()
    assert ok, f"{name}: {msg}"
