"""operators/scan_local.py is a physical reshape of level1's two
sequence legs: over layout-contracted parquet it must reproduce, row
for row, what the window shapes in domain/levels.py compute — across
file boundaries (prev_count stitch), duplicate lookbacks that leave
the file (zone fix), files spanning less than the 29-min window
(multi-file lookback), equal-time duplicate pairs, and hash
collisions in the kernel (exactness may not rest on 64-bit hashes).
Layout-contract breaches must fail loudly, never return wrong rows.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from cosmoz_data_pipeline_spark.operators import scan_local
from cosmoz_data_pipeline_spark.operators.scan_local import (
    DUP_WINDOW_SECS,
    TILE_ROWGROUP_BYTES,
    _dup_flags,
    write_time_tiled,
)

SF_DIR = "/root/testdata/sf0.001"
R_US = DUP_WINDOW_SECS * 1_000_000


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t),
    )


def _mini_raw(spark, rows, site_type="int"):
    """(secs, site, flag, count, battery, vwc1) tuples → a full raw
    frame."""
    return spark.createDataFrame(
        rows,
        f"secs long, site_no {site_type}, flag int, count long, "
        "battery double, vwc1 double",
    ).select(
        F.col("secs").cast("timestamp").alias("time"),
        "site_no",
        "flag",
        "count",
        F.lit(950.0).alias("pressure1"),
        F.lit(21.0).alias("internal_temperature"),
        F.lit(31.0).alias("internal_humidity"),
        "battery",
        F.lit(16.0).alias("tube_temperature"),
        F.lit(21.0).alias("tube_humidity"),
        F.lit(0.0).alias("rain"),
        "vwc1",
        F.lit(1.0).alias("vwc2"),
        F.lit(1.0).alias("vwc3"),
        F.lit(949.0).alias("pressure2"),
        F.lit(10.0).alias("external_temperature"),
        F.lit(50.0).alias("external_humidity"),
    )


@pytest.mark.parametrize("n_files", [1, 16, 64])
def test_scan_local_identity_on_domain_corpus(spark, tmp_path, n_files):
    """Row-for-row identity with the shipped window shape on the
    domain corpus, across file granularities — 64 files over ~1k rows
    makes per-site file spans comparable to the 29-min window, so the
    boundary stitch and zone fix both fire constantly."""
    raw = load_domain(spark, SF_DIR)["raw_values"]
    base = _rows(levels.raw_to_level1(raw, big=False))
    assert base
    path = str(tmp_path / f"sink_{n_files}")
    write_time_tiled(raw, path, n_files)
    assert _rows(levels.raw_to_level1_scan_local(spark, path)) == base


def test_scan_local_boundary_grid(spark, tmp_path):
    """The dup-subset adversarial grid (chains, equal-time pairs,
    near-dups, >29-min pairs) written at a granularity where file
    boundaries cut through the cases; asserts both identity with the
    window shape and the specific kept/dropped timestamps."""
    b = 1_600_000_000  # arbitrary epoch anchor
    rows = []

    def add(t, site, count, battery=12.0, tag=1.0):
        rows.append((t, site, 0, count, battery, tag))

    # 20-min same-payload pair -> dup dropped
    add(b - 600, 1, 1500), add(b + 600, 1, 1500)
    # same payload, 40 min apart -> both kept
    add(b - 1200, 2, 1600), add(b + 1200, 2, 1600)
    # chain: t, +20m, +40m (consecutive gaps <= 29m) -> head survives
    add(b + 7200, 4, 1800), add(b + 8400, 4, 1800), add(b + 9600, 4, 1800)
    # equal-time same-payload pair -> exactly one survivor
    add(b + 20000, 5, 1900), add(b + 20000, 5, 1900)
    # same count, different battery -> NOT duplicates
    add(b + 30000, 6, 2000, battery=11.0), add(b + 31200, 6, 2000, battery=12.5)
    # sequence context rows so prev_count is non-null for the cases
    for t, s in ((b - 3000, 1), (b - 3600, 2), (b + 6000, 4),
                 (b + 18000, 5), (b + 28000, 6)):
        add(t, s, 1000 + s)

    raw = _mini_raw(spark, rows)
    base = _rows(levels.raw_to_level1(raw, big=False))
    for n_files in (2, 8):
        path = str(tmp_path / f"grid_{n_files}")
        write_time_tiled(raw, path, n_files)
        out = levels.raw_to_level1_scan_local(spark, path)
        assert _rows(out) == base
    kept = {
        (r["s"], r["t"])
        for r in out.select(
            F.col("site_no").alias("s"), F.unix_timestamp("time").alias("t")
        ).collect()
    }
    assert (1, b - 600) in kept and (1, b + 600) not in kept
    assert (2, b - 1200) in kept and (2, b + 1200) in kept
    assert (4, b + 7200) in kept
    assert (4, b + 8400) not in kept and (4, b + 9600) not in kept
    assert (5, b + 20000) in kept
    assert (6, b + 30000) in kept and (6, b + 31200) in kept


def test_scan_local_short_files_multi_file_lookback(spark, tmp_path):
    """Files spanning FAR less than 29 min: a duplicate's matcher can
    sit several files back, and every file head needs the stitch. A
    dense 2-min grid over one site with one injected duplicate, cut
    into 16 files (~2 rows each), must still match the window shape."""
    rows = []
    b = 1_700_000_000
    for i in range(30):
        rows.append((b + i * 120, 1, 0, 1000 + i, 12.0, 1.0))
    # duplicate of row i=5's payload, 24 min later (12 steps)
    rows.append((b + 5 * 120 + 1440, 1, 0, 1005, 12.0, 1.0))
    raw = _mini_raw(spark, rows)
    base = _rows(levels.raw_to_level1(raw, big=False))
    path = str(tmp_path / "short")
    write_time_tiled(raw, path, 16)
    assert _rows(levels.raw_to_level1_scan_local(spark, path)) == base
    kept = {
        (r["t"], r["count"])
        for r in levels.raw_to_level1_scan_local(spark, path)
        .select(F.unix_timestamp("time").alias("t"), "count")
        .collect()
    }
    # the injected dup (count 1005 at +2040 s) dropped; its equal-time
    # twin (count 1017, different payload) and the source row survive
    assert (b + 5 * 120 + 1440, 1005) not in kept
    assert (b + 5 * 120 + 1440, 1017) in kept
    assert (b + 5 * 120, 1005) in kept


def test_scan_local_layout_violation_raises(spark, tmp_path):
    """Unsorted files breach contract 1 and must fail loudly at the
    kernel, not return wrong rows."""
    rows = [
        (1_700_000_000 + t, 1, 0, 1000 + t, 12.0, 1.0)
        for t in (600, 0, 1200)  # deliberately out of order
    ]
    raw = _mini_raw(spark, rows).coalesce(1)
    path = str(tmp_path / "unsorted")
    raw.write.parquet(path)  # no sortWithinPartitions: contract breach
    with pytest.raises(Exception, match="layout violation"):
        levels.raw_to_level1_scan_local(spark, path).collect()


def test_dup_flags_exact_under_total_hash_collision():
    """Degenerate hash (every row collides): the confirm + bounded
    fallback must still produce the exact duplicate set, matching a
    brute-force reference."""
    rng = np.random.default_rng(7)
    n = 400
    seg = np.repeat(np.arange(4), n // 4)
    t = np.sort(rng.integers(0, 4000, n)) * 1_000_000
    pay = rng.integers(0, 5, n).astype(np.float64)  # many true dups
    pay[rng.random(n) < 0.1] = np.nan  # null payloads too
    h = np.zeros(n, dtype=np.uint64)  # total collision
    got = _dup_flags(seg, t, h, [pay], R_US)

    def eq(a, b):
        return (a == b) or (np.isnan(a) and np.isnan(b))

    want = np.zeros(n, dtype=bool)
    for i in range(n):
        for j in range(i - 1, -1, -1):
            if seg[j] != seg[i] or t[j] < t[i] - R_US:
                break
            if eq(pay[j], pay[i]):
                want[i] = True
                break
    assert (got == want).all() and want.any()


def test_dup_flags_matches_real_hash_path():
    """The degenerate-hash flags equal the real-hash flags on the
    same frame (the fallback is a slow path, not a different
    semantic)."""
    import pandas as pd
    from pandas.util import hash_pandas_object

    rng = np.random.default_rng(11)
    n = 300
    seg = np.zeros(n, dtype=np.int64)
    t = np.sort(rng.integers(0, 3000, n)) * 1_000_000
    pdf = pd.DataFrame(
        {"a": rng.integers(0, 4, n).astype(float), "b": rng.integers(0, 3, n)}
    )
    pay = [pdf["a"].to_numpy(), pdf["b"].to_numpy()]
    h_real = hash_pandas_object(pdf, index=False).to_numpy()
    h_fake = np.zeros(n, dtype=np.uint64)
    a = _dup_flags(seg, t, h_real, pay, R_US)
    b = _dup_flags(seg, t, h_fake, pay, R_US)
    assert (a == b).all() and a.any()


def test_scan_local_boundary_kernel_identity_and_pruning(spark, tmp_path, monkeypatch):
    """The boundary kernel (row-group-pruned zone read) vs the window
    shape: identical level1 rows on (a) the domain corpus at default
    row groups and (b) a tiny forced row-group size so each file holds
    MANY row groups and the pruning + extras logic actually exercises
    (at the default 8 MiB the small corpus gives one group per file
    and pruning is trivial)."""
    import os

    import pyarrow.parquet as pq

    raw = load_domain(spark, SF_DIR)["raw_values"]
    base = _rows(levels.raw_to_level1(raw, big=False))
    assert base
    # 2 files in the tiny case: parquet-mr only checks row-group size
    # every ~100 records, so files need enough rows to split often
    for tag, n_files, rg_bytes in (
        ("default", 8, TILE_ROWGROUP_BYTES), ("tiny", 2, 2048)
    ):
        path = str(tmp_path / f"sink_{tag}")
        monkeypatch.setattr(scan_local, "TILE_ROWGROUP_BYTES", rg_bytes)
        write_time_tiled(raw, path, n_files)
        if tag == "tiny":
            nrg = [
                pq.ParquetFile(f"{path}/{f}").metadata.num_row_groups
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            assert max(nrg) > 4, f"row groups not split: {nrg}"
        assert _rows(levels.raw_to_level1_scan_local(spark, path)) == base


def test_boundary_kernel_truncation_guard_unit():
    """_maybe_truncated (round 15, VERDICT r14 wrong #4): numeric
    stats never flag; BYTE_ARRAY stats flag exactly when a raw
    min/max reaches the parquet-mr truncation length (a 64-byte
    value is indistinguishable from a truncated prefix)."""
    from cosmoz_data_pipeline_spark.operators.scan_local import (
        STAT_TRUNC_LEN,
        _maybe_truncated,
    )

    class Stat:
        def __init__(self, pt, mn, mx):
            self.physical_type, self.min_raw, self.max_raw = pt, mn, mx

    assert not _maybe_truncated(Stat("INT64", 1, 2))
    assert not _maybe_truncated(Stat("INT96", b"x" * 96, b"y" * 96))
    assert not _maybe_truncated(Stat("BYTE_ARRAY", b"a", b"b" * 63))
    assert _maybe_truncated(Stat("BYTE_ARRAY", b"a", b"b" * STAT_TRUNC_LEN))
    assert _maybe_truncated(Stat("BYTE_ARRAY", b"a" * 80, b"b"))
    assert _maybe_truncated(
        Stat("FIXED_LEN_BYTE_ARRAY", b"a" * STAT_TRUNC_LEN, b"a" * STAT_TRUNC_LEN)
    )


def test_boundary_kernel_degrades_on_truncatable_string_sites(spark, tmp_path, monkeypatch):
    """Integration: a sink whose string site keys are AT the
    truncation length must still produce rows identical to the window
    shape — the kernel degrades those files to whole-file reads rather
    than trusting possibly-prefix stats. Tiny row groups force real
    pruning decisions per group."""
    sites = ["s" * 63 + c for c in "abc"]  # 64-byte site keys
    # counts cycle so the ±20 % jump flag reads prev_count, and every
    # third reading repeats a payload within 29 min (a duplicate)
    rows = [
        (1_600_000_000 + 600 * i, s, 0, (1000, 1300, 1000, 800)[i % 4], 12.0,
         float(i // 3))
        for s in sites
        for i in range(120)
    ]
    raw = _mini_raw(spark, rows, site_type="string")
    base = _rows(levels.raw_to_level1(raw, big=False))
    path = str(tmp_path / "trunc_sink")
    monkeypatch.setattr(scan_local, "TILE_ROWGROUP_BYTES", 2048)
    write_time_tiled(raw, path, 3)
    got = _rows(levels.raw_to_level1_scan_local(spark, path))
    assert base and got == base


def test_boundary_kernel_null_site_raises_named_error(spark, tmp_path):
    """ADVICE r14: null site keys are out of contract; the boundary
    kernel must refuse with an error naming the layout contract, not
    an opaque NaN cast failure."""
    from cosmoz_data_pipeline_spark.operators import scan_local as sl

    rows = [(1_600_000_000 + 600 * i, 1 if i % 3 else None, 100 + i, float(i))
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "secs long, site_no int, count long, v double"
    ).select(
        F.col("secs").cast("timestamp").alias("time"), "site_no", "count", "v"
    )
    path = str(tmp_path / "null_sink")
    # write directly (write_time_tiled's range partitioner handles
    # nulls; the layout contract is about what the kernel READS)
    df.orderBy("site_no", "time").coalesce(1).write.parquet(path)
    with pytest.raises(Exception, match="layout violation|non-null site"):
        sl.scan_local_raw_flags(spark, path, ["count", "v"]).collect()


# --- property: scan-local level1 == the window shape ------------------
# The reference is raw_to_level1's small (window) shape. Each drawn
# sink tiles a regular 10-min grid over three sites into n_files time
# windows, each written as its own (site, time)-sorted parquet file at
# the drawn row-group size, and injects same-payload pairs placed
# across a file boundary: the first row sits ``before`` seconds ahead
# of the boundary, its twin ``after`` seconds past it, so the pair is
# a duplicate iff before + after <= 29 min. Grid counts cycle through
# three values, so in-file duplicates and ±20 % count jumps fire too.
# Times never tie within a site (the window shape's lag order on ties
# is arbitrary). Three more draws cover the edges that otherwise have
# only fixed cases: string site keys of 64 bytes, whose parquet stats
# may be truncated prefixes (STAT_TRUNC_LEN); empty files in the sink;
# and a null site key, which is out of contract and must raise the
# named layout error instead of returning rows.
_GRID_S = 600
_GRID_N = 240
_T0 = 1_650_000_000


def _write_tiles(raw, path, bounds, rowgroup_bytes):
    """One parquet file per [lo, hi) time window, sorted by (site,
    time) — the layout contract, with file boundaries at ``bounds``."""
    secs = F.col("time").cast("long")
    edges = [None, *bounds, None]
    for lo, hi in zip(edges, edges[1:]):
        part = raw
        if lo is not None:
            part = part.where(secs >= lo)
        if hi is not None:
            part = part.where(secs < hi)
        (
            part.coalesce(1)
            .sortWithinPartitions("site_no", "time")
            .write.mode("append")
            .option("parquet.block.size", str(rowgroup_bytes))
            .parquet(path)
        )


_offset = st.integers(1, 899).filter(lambda x: x != _GRID_S // 2)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_files=st.integers(2, 4),
    rowgroup_bytes=st.sampled_from([2048, 8192, TILE_ROWGROUP_BYTES]),
    pairs=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 2), _offset, _offset),
        min_size=1,
        max_size=4,
    ),
    long_sites=st.booleans(),
    empty_files=st.integers(0, 2),
    null_site=st.booleans(),
)
def test_scan_local_matches_window_shape_property(
    spark, tmp_path_factory, n_files, rowgroup_bytes, pairs, long_sites, empty_files, null_site
):
    rows = [
        (_T0 + _GRID_S * i, site, 0, (1000, 1300, 900)[(i + site) % 3], 12.0, 1.0)
        for site in (1, 2, 3)
        for i in range(_GRID_N)
    ]
    # boundaries sit half a grid step off the grid, so an offset other
    # than _GRID_S / 2 never lands on a grid time
    bounds = [
        _T0 + (k * _GRID_N // n_files) * _GRID_S + _GRID_S // 2
        for k in range(1, n_files)
    ]
    taken = {(r[1], r[0]) for r in rows}
    for j, (site, b_ord, before, after) in enumerate(pairs):
        bnd = bounds[b_ord % len(bounds)]
        for t in (bnd - before, bnd + after):
            if (site, t) not in taken:
                taken.add((site, t))
                rows.append((t, site, 0, 5000 + j, 11.5, 2.0))
    if null_site:
        rows[0] = (rows[0][0], None, *rows[0][2:])
    if long_sites:
        rows = [(r[0], None if r[1] is None else "s" * 63 + str(r[1]), *r[2:]) for r in rows]
    raw = _mini_raw(spark, rows, site_type="string" if long_sites else "int")
    path = str(tmp_path_factory.mktemp("prop") / "sink")
    _write_tiles(raw, path, bounds, rowgroup_bytes)
    for _ in range(empty_files):
        raw.limit(0).coalesce(1).write.mode("append").parquet(path)
    if null_site:
        with pytest.raises(Exception, match="layout violation|non-null site"):
            levels.raw_to_level1_scan_local(spark, path).collect()
        return
    base = _rows(levels.raw_to_level1(raw, big=False))
    assert base
    assert _rows(levels.raw_to_level1_scan_local(spark, path)) == base
