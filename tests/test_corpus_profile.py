"""Results do not depend on process history: a corpus rewritten in
place gets fresh corpus stats in the same session.

The augmented dedup corpora number their copies from the next power of
ten above max(id), and the IVF index is trained once per corpus. Both
are cached for the session, checked against the listing fingerprint of
the table's files (profile.id_stats, catalog_ext._IVF_CENTROIDS). This
test runs the id-keyed queries on a copy of sf0.01, rewrites the copy's
documents and embeddings so the max id gains a digit (offset 1000 ->
10000), and runs them again. Between the runs only the scoped persists
and the SQL cache are dropped, so only module caches carry over; a
cache that served the old offset or the old index would fail the
strict oracle compare.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists
from tools.compare import compare, duckdb_connection

QUERIES = (
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_dedup_simhash_pairs",
    "x_dedup_ngram_jaccard",
    "x_dedup_components",
    "x_embed_cosine_neardup",
    "x_ann_ivf_topk",
)
ID_COLS = {"documents": "doc_id", "embeddings": "vec_id"}


def _run_all(spark, sf_dir):
    con = duckdb_connection(sf_dir)
    for name in QUERIES:
        q = REGISTRY[name]
        try:
            ok, msg = compare(q.run(spark, sf_dir), q.oracle, con)
        finally:
            release_persists()
            spark.catalog.clearCache()
        assert ok, f"{name}: {msg}"


def _max_id(path, col):
    return pc.max(pq.read_table(path, columns=[col])[col]).as_py()


def _rewrite_ids(path, col):
    """Rewrite ``path`` in place with every id tripled."""
    t = pq.read_table(path)
    i = t.schema.get_field_index(col)
    t = t.set_column(i, col, pc.multiply(t[col], pa.scalar(3, t[col].type)))
    pq.write_table(t, path)


def test_rewrite_in_place_gets_fresh_offset_and_index(spark, sf_dir, tmp_path):
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    d = str(tmp_path / "corpus")
    os.mkdir(d)
    for f in os.listdir(sf):
        shutil.copyfile(os.path.join(sf, f), os.path.join(d, f))

    paths = {col: os.path.join(d, f"{t}.parquet") for t, col in ID_COLS.items()}
    assert [_max_id(p, col) for col, p in paths.items()] == [499, 499]  # offset 1000
    _run_all(spark, d)

    for col, p in paths.items():
        _rewrite_ids(p, col)
        assert 1000 <= _max_id(p, col) < 10000  # offset 10000
    _run_all(spark, d)


def test_one_listing_per_table_per_query(spark, sf_dir, monkeypatch):
    """Each id-keyed query lists its table once: the fingerprint that
    checks the id-stats cache is a file walk per call (a few py4j calls
    per file on a non-local store), so the query takes the stats once
    and hands them to every builder that needs them."""
    from cosmoz_data_pipeline_spark import profile

    calls = []
    listing = profile.listing
    monkeypatch.setattr(
        profile, "listing", lambda spark_, path: calls.append(path) or listing(spark_, path)
    )
    for name, table in (
        ("x_embed_cosine_neardup", "embeddings"),
        ("x_dedup_simhash_pairs", "documents"),
    ):
        calls.clear()
        try:
            REGISTRY[name].run(spark, sf_dir)
        finally:
            release_persists()
        assert [p for p in calls if table in p] == [f"{sf_dir}/{table}.parquet"], name
