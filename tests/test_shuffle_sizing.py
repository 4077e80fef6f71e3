"""Spill-aware shuffle sizing (session.scale_shuffle_partitions over
profile.path_bytes and profile.partitions_for).

AQE only coalesces BELOW spark.sql.shuffle.partitions, so the
configured count is the engine's one upward scale knob; pinning it at
core count made per-reducer sort volume grow linearly with the corpus
(SHUFFLE_PARTS_AB.json: level4 at x1000 159 s / 8.8 GiB spill at 32
partitions vs 98 s / zero spill at 128+). These tests pin the sizing
CONTRACT — floor on small corpora, bytes-proportional growth, per-dir
monotonicity, cross-dir reset, cap — against synthetic byte counts so
they run in milliseconds.
"""

from __future__ import annotations

import os

import pytest

from cosmoz_data_pipeline_spark import profile as P
from cosmoz_data_pipeline_spark import session as S


@pytest.fixture()
def synthetic_bytes(monkeypatch):
    """Feed scale_shuffle_partitions from a dict instead of the disk,
    and isolate the per-dir accumulator."""
    table = {}
    monkeypatch.setattr(S, "path_bytes", lambda spark, p: table[p])
    monkeypatch.setattr(S, "_loaded_bytes_by_dir", {})
    return table


def _conf(spark):
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_small_corpus_stays_at_session_floor(spark, synthetic_bytes):
    synthetic_bytes["/sf/small.parquet"] = 1 << 20  # 1 MiB
    got = S.scale_shuffle_partitions(spark, "/sf", "/sf/small.parquet")
    # conftest builds the session with shuffle_partitions=8; a corpus
    # below TARGET bytes must not disturb that baseline
    assert got == 8
    assert _conf(spark) == 8


def test_big_table_scales_and_small_dim_never_shrinks(spark, synthetic_bytes):
    fact = 512 * P.SHUFFLE_TARGET_INPUT_BYTES
    synthetic_bytes["/big/events.parquet"] = fact
    synthetic_bytes["/big/nation.parquet"] = 1 << 10
    got = S.scale_shuffle_partitions(spark, "/big", "/big/events.parquet")
    assert got == 512
    assert _conf(spark) == 512
    # the dimension load ADDS to the dir total — it must never pull
    # the count back toward the floor mid-query
    got2 = S.scale_shuffle_partitions(spark, "/big", "/big/nation.parquet")
    assert got2 >= 512
    # re-loading the fact table is idempotent (dict-keyed, not summed)
    got3 = S.scale_shuffle_partitions(spark, "/big", "/big/events.parquet")
    assert got3 == got2


def test_stepping_back_to_small_dir_resets(spark, synthetic_bytes):
    synthetic_bytes["/big/events.parquet"] = 512 * P.SHUFFLE_TARGET_INPUT_BYTES
    synthetic_bytes["/sf/events.parquet"] = 1 << 20
    S.scale_shuffle_partitions(spark, "/big", "/big/events.parquet")
    assert _conf(spark) == 512
    S.scale_shuffle_partitions(spark, "/sf", "/sf/events.parquet")
    assert _conf(spark) == 8  # bench/test SFs see their session default


def test_cap_bounds_local_mode(spark, synthetic_bytes):
    synthetic_bytes["/huge/events.parquet"] = (
        10 * P.SHUFFLE_PARTITIONS_CAP * P.SHUFFLE_TARGET_INPUT_BYTES
    )
    got = S.scale_shuffle_partitions(spark, "/huge", "/huge/events.parquet")
    assert got == P.SHUFFLE_PARTITIONS_CAP
    # leave the session back at its floor for whoever runs next
    synthetic_bytes["/sf/t.parquet"] = 1
    S.scale_shuffle_partitions(spark, "/sf", "/sf/t.parquet")


def test_floor_above_cap_never_clamped(spark, synthetic_bytes):
    # a cluster session may legitimately configure a floor above the
    # local-mode cap; the cap bounds only the byte-derived term
    synthetic_bytes["/big/events.parquet"] = 512 * P.SHUFFLE_TARGET_INPUT_BYTES
    spark.conf.set("spark.cosmoz.shuffle.floor", str(P.SHUFFLE_PARTITIONS_CAP * 2))
    try:
        got = S.scale_shuffle_partitions(spark, "/big", "/big/events.parquet")
        assert got == P.SHUFFLE_PARTITIONS_CAP * 2
    finally:
        spark.conf.set("spark.cosmoz.shuffle.floor", "8")
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_hadoop_fs_sizes_scheme_uri(spark, tmp_path):
    # the cluster-real path: a scheme URI os.walk cannot see is sized
    # through the JVM Hadoop FileSystem (file: locally stands in for
    # hdfs:/s3a: — same API, same resolution path)
    data = tmp_path / "t.parquet"
    data.mkdir()
    (data / "part-0").write_bytes(b"x" * 4096)
    (data / "part-1").write_bytes(b"y" * 1024)
    assert P.path_bytes(spark, "file://" + str(data)) == 5120
    got = P.listing(spark, "file://" + str(data))
    assert sum(f[1] for f in got) == 5120 and len(got) == 2


def test_hadoop_size_memoized_until_mtime_moves(spark, tmp_path):
    # the corpus stats of a scheme-URI corpus are an aggregate job: it
    # must run once per listing fingerprint, validated by the one
    # Hadoop listing per call, not on every call
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": pa.array(range(10), pa.int64())}), data)
    uri = "file://" + str(tmp_path)
    n = P.id_stats(spark, uri, "documents", "doc_id").n
    assert n == 10
    # poison the cache under the CURRENT fingerprint: a hit proves the
    # next call consulted the cache instead of re-running the job
    key = (uri, "documents", "doc_id")
    fp, _ = P._ID_STATS[key]
    P._ID_STATS[key] = (fp, P.IdStats(999, 0, 0, 0))
    assert P.id_stats(spark, uri, "documents", "doc_id").n == 999
    # move the file mtime: the listing must notice and recount
    # (overwriting in place — one entry per path, no unbounded growth
    # across fingerprints)
    st = data.stat()
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    assert P.id_stats(spark, uri, "documents", "doc_id").n == n
    assert isinstance(P._ID_STATS[key], tuple)  # single entry, overwritten


def test_unsizable_path_warns_once(spark, capsys):
    P._warned_unsizable.discard("file:///nonexistent/cosmoz/t.parquet")
    got = P.path_bytes(spark, "file:///nonexistent/cosmoz/t.parquet")
    assert got == 0
    assert "could not size" in capsys.readouterr().err
    # second call is silent (once per path per process)
    got = P.path_bytes(spark, "file:///nonexistent/cosmoz/t.parquet")
    assert got == 0
    assert "could not size" not in capsys.readouterr().err


def test_memo_invalidates_on_dir_growth(tmp_path):
    data = tmp_path / "grow.parquet"
    data.mkdir()
    (data / "part-0").write_bytes(b"x" * 1024)
    assert P.path_bytes(None, str(data)) == 1024
    (data / "part-1").write_bytes(b"y" * 2048)
    # force a distinct dir mtime even on coarse-resolution filesystems
    st = data.stat()
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert P.path_bytes(None, str(data)) == 3072


def test_partition_append_resizes(spark, tmp_path):
    # a file appended inside a site_no= partition moves only that leaf
    # directory's mtime, not the table root's; the next size must
    # still count it
    data = tmp_path / "events.parquet"
    for site in (1, 2):
        (data / f"site_no={site}").mkdir(parents=True)

    def sparse(path):  # 64 MiB of size, no disk blocks
        with open(path, "wb") as f:
            f.truncate(64 << 20)

    sparse(data / "site_no=1" / "part-0")
    try:
        assert S.scale_shuffle_partitions(spark, str(tmp_path), str(data)) == 16
        top = data.stat().st_mtime_ns
        sparse(data / "site_no=2" / "part-0")
        assert data.stat().st_mtime_ns == top  # only the leaf dir moved
        assert P.path_bytes(spark, str(data)) == 128 << 20
        assert S.scale_shuffle_partitions(spark, str(tmp_path), str(data)) == 32
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_ceiling_rises_when_table_grows(spark, tmp_path, monkeypatch):
    # integration of the two: a session that appends to a table
    # re-sizes its next shuffle without a session rebuild
    monkeypatch.setattr(P, "SHUFFLE_TARGET_INPUT_BYTES", 1024)
    monkeypatch.setattr(S, "_loaded_bytes_by_dir", {})
    data = tmp_path / "events.parquet"
    data.mkdir()
    (data / "part-0").write_bytes(b"x" * 64 * 1024)
    try:
        got = S.scale_shuffle_partitions(spark, str(tmp_path), str(data))
        assert got == 64
        (data / "part-1").write_bytes(b"y" * 64 * 1024)
        st = data.stat()
        os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        got = S.scale_shuffle_partitions(spark, str(tmp_path), str(data))
        assert got == 128
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_real_testdata_dir_stays_at_floor(spark, sf_dir):
    # the actual sf0.001/sf0.01 corpora are far below one TARGET slice
    # per core: loading them must leave the test session at its 8
    from cosmoz_data_pipeline_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events")
    assert _conf(spark) == 8


@pytest.mark.scale_gate
def test_real_scale_corpus_raises_ceiling(spark):
    # against the REAL x100 corpus (the scale_gate fixture dir) the
    # sizing must actually engage: events alone is ~170 MB, so the
    # configured ceiling must rise well above the 8-partition test
    # floor — this is the integration half of the synthetic contract
    # tests above
    d = "/tmp/cosmoz_scale_x100"
    if not os.path.isdir(os.path.join(d, "events.parquet")):
        pytest.skip("x100 scale corpus not on disk (tools/scale_corpus.py)")
    from cosmoz_data_pipeline_spark.sources.tables import load_table

    load_table(spark, d, "events")
    got = _conf(spark)
    assert got >= 170 * (1 << 20) // P.SHUFFLE_TARGET_INPUT_BYTES // 2, got
    # and stepping back to the tiny fixture corpus restores the floor
    load_table(spark, "/root/testdata/sf0.001", "events")
    assert _conf(spark) == 8
