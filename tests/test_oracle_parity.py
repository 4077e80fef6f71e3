"""Oracle parity smoke at sf0.001: every registered query with an
oracle must match DuckDB exactly (the driver's gate runs the same
comparison at sf0.01)."""

from __future__ import annotations

import pytest

from cosmoz_data_pipeline_spark.plans import REGISTRY
from tools.compare import compare, duckdb_connection

# the fast subset for -x -q CI; tools/check_all.py covers everything
FAST = [
    "s01_scan_pushdown",
    "a01_pricing_summary",
    "j01_dim_join_rollup",
    "w01_lag_delta",
    "j05_asof_backward_join",
    "j07_windowed_dedup",
    "level1",
    "level1_scan_local",
    "level3",
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_dedup_ngram_jaccard",
    "x_dedup_simhash_pairs",
    "x_dedup_components",
    "x_embed_cosine_neardup",
    "x_decontaminate",
    "x_ann_ivf_topk",
    "x_text_fingerprint",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duckdb_connection(sf_dir)


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = REGISTRY[name]
    assert q.oracle is not None
    ok, msg = compare(q.run(spark, sf_dir), q.oracle, duck)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_budget_records_all_operators():
    """The driver records only the first DRIVER_QUERY_BUDGET queries.
    The tail past the budget must contain ONLY the pinned
    instrumentation views (IVF train/search bench split) whose
    operator coverage is already carried by a recorded query — any
    other name in the tail is silent coverage loss."""
    from cosmoz_data_pipeline_spark.plans import DRIVER_QUERY_BUDGET, _TAIL

    names = list(REGISTRY)
    assert names[DRIVER_QUERY_BUDGET:] == _TAIL
    assert "x_ann_ivf_topk" in names[:DRIVER_QUERY_BUDGET]


@pytest.mark.parametrize(
    "name",
    ["x_ann_ivf_topk_train", "x_ann_ivf_topk_search", "x_multimodal_decode_ppm"],
)
def test_unrecorded_tail_matches_oracle(spark, sf_dir, duck, name):
    """The tail queries sit past the driver budget, so the driver's
    CORRECTNESS artifact never checks them — this test is their
    oracle gate."""
    q = REGISTRY[name]
    assert q.oracle is not None
    ok, msg = compare(q.run(spark, sf_dir), q.oracle, duck)
    assert ok, f"{name}: {msg}"


def test_entry_queries_harden_an_unhardened_session(spark, sf_dir, duck):
    """``load_table`` leaves the session's confs alone; each wrapper
    that ``__spark_entry__.queries()`` returns hardens the caller's
    session. With the parquet-nanos and time-zone confs unset, an
    events-reading query run through its wrapper sets both again and
    still matches its oracle.

    What this pins is the wrapper's conf hardening: the conf assertion
    is the one that fails if the wrapper stops hardening. The oracle
    half does not discriminate — it also passes with the hardening
    removed — so it is no guard on ``load_table``'s nanos/UTC
    conversion."""
    import __spark_entry__ as e

    hardened = {"spark.sql.legacy.parquet.nanosAsLong": "true", "spark.sql.session.timeZone": "UTC"}
    saved = {k: spark.conf.get(k) for k in hardened}
    try:
        for k in hardened:
            spark.conf.unset(k)
        name = "a04_minmax_time_per_key"
        df = e.queries()[name](spark, sf_dir)
        assert {k: spark.conf.get(k) for k in hardened} == hardened
        ok, msg = compare(df, REGISTRY[name].oracle, duck)
        assert ok, f"{name}: {msg}"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_nanos_events_match_oracle(spark, tmp_path):
    """An ``events`` table whose ``ts`` is stored as TIMESTAMP(NANOS)
    (the test corpora store µs; other writers store ns) goes through the
    loader's raw-int64 branch and matches DuckDB, which truncates ns to
    µs toward zero: -1 ns reads as the epoch, -1,000,001 ns as 1 ms
    before it, so neither shifts its group's minimum or hour."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [-1, 0, 1_500, 1_614_000_000_123_456_789, -1_000_001, 3_600_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 2, 2, 3, 3], pa.int64()),
            "event_type": ["a", "a", "b", "b", "c", "c"],
            "value": [1.0] * len(ns),
            "props": [""] * len(ns),
        }),
        tmp_path / "events.parquet",
    )
    unit = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type
    assert "nanoseconds" in str(unit)

    name = "a04_minmax_time_per_key"
    ok, msg = compare(
        REGISTRY[name].run(spark, str(tmp_path)),
        REGISTRY[name].oracle,
        duckdb_connection(str(tmp_path)),
    )
    assert ok, f"{name}: {msg}"
