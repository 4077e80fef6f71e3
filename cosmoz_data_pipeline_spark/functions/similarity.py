"""Vector-similarity column builders (ANN extension operators).

Dot products / norms are explicit left-to-right folds over
array<double> so Spark and the DuckDB oracle accumulate in the same
order (double addition is not associative). Embeddings are cast
float→double at the edge (exact) before any arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right ``zip_with``/``aggregate`` fold — THE kernel for
    every data-scaled path. Round-5 finding that reversed the round-3
    choice: the 64-term unrolled ``getItem`` expression is faster only
    while the whole fused stage stays inside whole-stage codegen; on
    the big scoring joins (142 M candidate rows at the x1000 corpus)
    the stage blows Spark's generated-method limits, falls back to
    interpreted expression eval, and the 64 GetArrayItem nodes box one
    Double each per row — measured 433 s vs 43 s for this fold on the
    identical join. The fold is one ArrayAggregate node looping over
    the array data, so its cost is stable whether or not the stage
    compiles. Accumulation order ``((0.0+t1)+t2)+...`` matches the
    unrolled form and the oracle's list_aggregate, bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def idot(a: Column, b: Column) -> Column:
    """Integer dot product fold over quantized vectors: every element
    is cast to bigint BEFORE the multiply (int32 storage would overflow
    at (4e5)^2 ≈ 1.6e11) and every product is ``coalesce``d to 0 so a
    null element, or the null padding ``zip_with`` emits for a vector
    shorter than its partner, contributes nothing — the same
    null-skipping a SQL SUM does, keeping ragged/null inputs in parity
    with the oracle (ADVICE r6). With |q| <= ~4.3e5 and dims <= 64 the
    partial sums stay < 2^53, so the result is EXACT in int64 and in
    float64, independent of accumulation order."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.coalesce(
                x.cast("bigint") * y.cast("bigint"), F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def idot_raw(a: Column, b: Column) -> Column:
    """Integer dot product fold WITHOUT idot's per-element casts and
    null-coalescing — for arrays already bigint and structurally
    null-free (the IVF quantized vectors: fixed 64 dims built by
    F.array). Unlike :func:`idot`, a null element (or ragged zip
    padding) PROPAGATES to a null sum. Measured on 100M 64-dim
    evaluations of x1000 vectors: 32.6 s vs 39.0 s for the
    cast+coalesce idot and 37.4 s for a pairwise squared-L2 fold
    (an isolated micro-benchmark, tools/ivf_fold_micro.py in git
    history) — the per-element Cast/Coalesce nodes are pure
    interpreter overhead on bigint input."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def idot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Fixed-dimension INTEGER dot product as an explicit
    left-associative sum of ``getItem`` terms over bigint arrays.
    Faster than the fold ONLY while the
    fused stage stays inside whole-stage codegen (a 16-term expression
    compiles where the 64-term one measured 433 s vs 43 s interpreted,
    see :func:`dot`). Inputs must already be bigint and null-free
    (nulls PROPAGATE, unlike :func:`idot`'s coalesce — callers
    coalesce at array-build time, once per vector). Integer sums are
    order-independent, so results equal the folds' bit for bit."""
    out = F.lit(0).cast("bigint")
    for i in range(dim):
        out = out + a.getItem(i) * b.getItem(i)
    return out


def quantize(v: Column) -> Column:
    """floor(v * 1e6) as array<int> — the SRP quantization grid, stored
    at int32 width (|v| <= ~0.43 in every corpus, so |q| <= ~4.3e5 fits
    with 3 orders of margin). Carrying the int32 array instead of the
    float64 one through a verify join halves the shuffled vector
    payload; all arithmetic on it runs through :func:`idot`, which
    widens to int64 per term.

    HARD BOUND: |v| < SRP_QUANT_MAX_ABS (= int32_max / SRP_QUANT ≈
    2147.48). With ANSI off, Spark's int cast silently WRAPS past
    int32 while the DuckDB oracle keeps BIGINT — an out-of-range
    component would become a silent parity break, so the guard raises
    at the augmentation edge instead (ADVICE r7). The when/abs check
    runs once per component at quantization time (persisted once per
    vector), never inside the verify-join fold, so the hot path is
    untouched."""
    return F.transform(
        v,
        # isNull first: a NULL component must stay NULL (the folds
        # null-skip it, matching SQL SUM) — abs(NULL) is NULL, which
        # would otherwise fall through to the raise branch
        lambda x: F.when(
            x.isNull() | (F.abs(x) < F.lit(float(SRP_QUANT_MAX_ABS))),
            F.floor(x * SRP_QUANT).cast("int"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "quantize(): |component| exceeds the int32 grid bound "
                        f"{SRP_QUANT_MAX_ABS} (would wrap past int32): "
                    ),
                    x.cast("string"),
                )
            ).cast("int")
        ),
    )


def qnorm(qv: Column) -> Column:
    """L2 norm of a quantized vector: sqrt of the EXACT integer
    self-dot. The int64 sum is exactly representable in float64
    (< 2^53) and IEEE sqrt is correctly rounded, so the double result
    is engine-independent."""
    return F.sqrt(idot(qv, qv).cast("double"))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


# --------------------------------------------------- SRP (sign random
# projection) LSH. Hyperplane weights are md5-derived integers — an
# earlier LCG scheme (w = (a*i + b*p) mod m) made every plane a small
# additive shift of the same hyperplane, so all 64 "independent" planes
# voted identically and buckets collapsed (measured: 80% of all pairs
# became candidates). Projections run on floor(v*1e6)-quantized vectors
# with integer weights: every partial sum stays < 2^53, so the result
# is EXACT in int64 and float64 and independent of accumulation order —
# parity with any oracle engine needs no ordered-fold gymnastics.

SRP_MOD = 2000001
SRP_HALF = 1000000
SRP_QUANT = 1_000_000  # vector components → floor(v * 1e6)
# largest |component| the int32 grid can hold: floor(x * 1e6) must stay
# within int32, so |x| < 2^31 / 1e6. quantize() raises past this bound
# instead of letting the ANSI-off cast wrap (ADVICE r7).
SRP_QUANT_MAX_ABS = (2**31) / SRP_QUANT  # ≈ 2147.483
SRP_MAX_PLANES = 30  # bucket ids must stay well inside int64
EMBED_DIM = 64  # embeddings-table vector width (TESTDATA.md)
# the id column the SRP builders read and write (embeddings' key)
SRP_ID_COL = "vec_id"
# expected vectors per SRP bucket; srp_planes_for and its DuckDB mirror
# srp_sql_cfg both read it, so the two engines agree by construction
SRP_TARGET_BUCKET = 8


def srp_planes_for(n: int) -> int:
    """Planes per band scaled to the corpus: the smallest r with
    2^r >= ceil(n / SRP_TARGET_BUCKET) (expected bucket occupancy stays
    ~SRP_TARGET_BUCKET however large n grows — a FIXED plane count
    makes buckets, and the within-bucket candidate join, grow linearly
    with the corpus), clamped to [8, 30]. Pure integer arithmetic
    (bit_length ≡ LENGTH(bin(x)) in DuckDB) so both engines derive the
    identical r from the same count."""
    m = (n + SRP_TARGET_BUCKET - 1) // SRP_TARGET_BUCKET
    r = (m - 1).bit_length() if m > 1 else 0
    return min(SRP_MAX_PLANES, max(8, r))


def srp_sql_cfg(src: str) -> str:
    """``cfg`` CTE: the DuckDB mirror of :func:`srp_planes_for` over
    ``src``'s row count."""
    t, t1 = SRP_TARGET_BUCKET, SRP_TARGET_BUCKET - 1
    return f"""cfg AS (
    SELECT LEAST({SRP_MAX_PLANES}, GREATEST(8,
        CASE WHEN (COUNT(*) + {t1}) // {t} <= 1 THEN 0
             ELSE LENGTH(bin((COUNT(*) + {t1}) // {t} - 1)) END)) AS r
    FROM {src})"""


def srp_weight(plane: int, dim_i: int) -> int:
    """Deterministic md5-derived hyperplane weight in [-1e6, 1e6]:
    first 32 bits of md5('srp{plane}_{dim_i}'), centered. dim_i is
    1-based to match SQL array indexing."""
    import hashlib

    h = int(hashlib.md5(f"srp{plane}_{dim_i}".encode()).hexdigest()[:8], 16)
    return h % SRP_MOD - SRP_HALF


def srp_weights_row(spark, bands: int, planes_per_band: int, dim: int):
    """ONE broadcastable row: ``srp_bands`` = array of per-band structs,
    each holding its planes as (bitval, warr) with ``bitval``
    precomputed (1 << bit-within-band) and ``warr`` the dim md5
    weights — bands×planes×dim int64s, a few KB. A 1-row table
    crossJoined under broadcast, NOT a literal expression tree: the
    ~10k-node nested CreateArray/CreateStruct literal is not
    constant-folded by Catalyst and re-evaluates per input row
    (measured +40%% on the x100 corpus and +6 s fixed per plan), while
    the broadcast row binds the bank once per task."""
    row = [
        (
            b,
            [
                (
                    1 << (p % planes_per_band),
                    [srp_weight(p, i) for i in range(1, dim + 1)],
                )
                for p in range(b * planes_per_band, (b + 1) * planes_per_band)
            ],
        )
        for b in range(bands)
    ]
    return spark.createDataFrame(
        [(row,)],
        "srp_bands array<struct<band:int,"
        "planes:array<struct<bitval:bigint,warr:array<bigint>>>>>",
    )


def srp_band_buckets(
    vec_df, spark, bands: int, planes_per_band: int, dim: int,
    vec_col: str = "v", quantized: bool = False,
):
    """(id, band, bucket) SRP assignments as ONE interpreted in-row fold
    per (vector, band) against the broadcast single-row weight literal:
    each plane's integer projection is a zip_with/aggregate dot over the
    quantized vector, and its sign contributes ``bitval`` to the band's
    bucket. The queries run :func:`srp_band_buckets_kernel` instead;
    this fold is the reference that kernel is tested against
    (tests/test_srp_kernel.py, tests/test_lsh_properties.py) — it
    performs the same integer arithmetic as the DuckDB oracle CTEs
    (:func:`srp_sql_ctes`), row by row. The 1-row crossJoin
    plans as a BroadcastNestedLoopJoin.

    ``quantized=True`` means ``vec_col`` already holds the
    floor(v*1e6) integer array (see :func:`quantize`); the fold skips
    the re-quantization. Products coalesce null to 0 (module
    :func:`idot`), so ragged/null elements null-skip exactly like the
    oracle's SUM (ADVICE r6); a fully-null/empty vector folds to
    bucket 0, which is also what the oracle's generate_series CTEs
    emit for it."""
    wrow = srp_weights_row(spark, bands, planes_per_band, dim)
    qa = F.col(vec_col) if quantized else quantize(F.col(vec_col))

    bucket = F.aggregate(
        F.col("bd.planes"),
        F.lit(0).cast("bigint"),
        lambda acc, pl: acc
        + F.when(idot(qa, pl["warr"]) > 0, pl["bitval"]).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return (
        vec_df.crossJoin(F.broadcast(wrow))
        .select(SRP_ID_COL, vec_col, F.explode("srp_bands").alias("bd"))
        .select(
            SRP_ID_COL,
            F.col("bd.band").alias("band"),
            bucket.alias("bucket"),
        )
    )


# --- Arrow/numpy SRP projection kernel (round 11) -------------------
# The per-(vector, band) fold evaluates bands*r*dim interpreted
# multiply-adds per vector (~9.7k at the x1000 banding), row by row;
# the identical integer arithmetic is one (N x dim) @ (dim x P) matmul
# against the broadcast plane bank. Exactness: |w| <= SRP_HALF = 1e6
# and quantize() bounds |q| < 2^31, so every projection sum is
# < dim * 2^31 * 1e6 ~ 1.4e17 < 2^63 — EXACT in int64; while max|q|
# stays <= 2^53/(dim*SRP_HALF) (~1.4e8 at dim 64; the shipped corpora
# peak at ~4.3e5) the float64 BLAS matmul is also exact and the kernel
# takes that fast path, falling back to the int64 matmul (exact,
# slower, never wrong) beyond it. Sign-to-bucket packing
# ((s > 0) * bitval summed per band) is pure int64 either way, so
# kernel and fold agree bit-for-bit on every input the fold accepts —
# pinned by tests/test_srp_kernel.py. Both SRP queries run the kernel
# at every scale: it won every measured scale on both, from sf0.1 to
# x1000 (SRP_KERNEL_AB.json).


def srp_weight_matrix(bands: int, planes_per_band: int, dim: int):
    """The (bands*planes_per_band, dim) int64 md5 plane bank — same
    weights, same plane order as :func:`srp_weights_row`."""
    import numpy as np

    total = bands * planes_per_band
    return np.array(
        [[srp_weight(p, i) for i in range(1, dim + 1)] for p in range(total)],
        dtype=np.int64,
    ).reshape(total, dim)


def _srp_quantized_matrix(vals, dim: int):
    """Dense (n, dim) float64 matrix from an Arrow column of QUANTIZED
    integer-array cells, replicating the fold path's null semantics:
    a null element — which Arrow surfaces as NaN in the cell's float
    view, unambiguous here because integers carry no NaN of their own
    (this is why the kernel only accepts pre-quantized input: on raw
    doubles a genuine NaN, which quantize() raises on, would be
    indistinguishable from a null, which it skips) — contributes 0 to
    every projection (idot's coalesce); a fully-null/empty vector
    projects to 0 on every plane (bucket 0); a short vector zero-pads
    (zip_with's null padding, coalesced); elements past ``dim`` pair
    with null weights in the fold and drop."""
    import numpy as np

    n = len(vals)
    q = None
    try:
        # fast path: rectangular; null elements -> nan via float64 cast
        m = np.array(list(vals), dtype=np.float64)
        if m.ndim == 2:
            if m.shape[1] > dim:
                m = m[:, :dim]
            elif m.shape[1] < dim:
                m = np.pad(m, ((0, 0), (0, dim - m.shape[1])))
            q = m
    except (ValueError, TypeError):
        pass
    if q is None:  # ragged rows / whole-cell nulls
        q = np.zeros((n, dim), dtype=np.float64)
        for i, x in enumerate(vals):
            if x is None:
                continue
            a = np.array(list(x[:dim]), dtype=np.float64)
            q[i, : len(a)] = a
    return np.nan_to_num(q, nan=0.0)


# plane-bank broadcast memo, keyed by (applicationId, banding shape):
# a long-lived session re-running banded queries reuses ONE broadcast
# per distinct (bands, r, dim) instead of accumulating a new ~80 KB
# broadcast per build (the leak class ADVICE r10 flagged on the IVF
# kernel). applicationId, not id(spark) — CPython reuses object ids
# (same rationale as _IVF_CENTROIDS).
_SRP_BANK_BC: dict[tuple[str, int, int, int], object] = {}


def srp_band_buckets_kernel(
    vec_df, bands: int, planes_per_band: int, dim: int,
    vec_col: str = "v", quantized: bool = False,
):
    """(id, band, bucket) SRP assignments via the Arrow/numpy matmul
    kernel — bit-identical to :func:`srp_band_buckets`'s fold on every
    input the fold accepts (exactness envelope above). One mapInPandas
    pass; the
    plane bank rides a SparkContext broadcast (bands*r*dim int64s —
    ~80 KB at the x1000 banding), memoized per (session, banding
    shape) so repeated builds never accumulate copies.

    ``quantized=False`` input is quantized JVM-side with the module
    :func:`quantize` expression BEFORE the kernel, preserving its
    exact floor(v*1e6) grid, its out-of-grid raise, and the null/NaN
    distinction Arrow erases (see :func:`_srp_quantized_matrix`) — the
    kernel itself only ever sees integer arrays."""
    import numpy as np

    spark = vec_df.sparkSession
    r = planes_per_band
    app_id = spark.sparkContext.applicationId
    key = (app_id, bands, r, dim)
    bc = _SRP_BANK_BC.get(key)
    if bc is None:
        # evict-and-destroy entries from DEAD applications first
        # (round 12, ADVICE r11): a long-lived process that stops and
        # rebuilds sessions would otherwise accumulate one plane bank
        # + driver-side Broadcast state per dead app forever —
        # single-app-at-a-time sessions make this a one-line sweep
        for k in [k for k in _SRP_BANK_BC if k[0] != app_id]:
            old = _SRP_BANK_BC.pop(k)
            try:
                old.destroy()
            except Exception:
                pass  # dead context already released it
        bc = spark.sparkContext.broadcast(srp_weight_matrix(bands, r, dim))
        _SRP_BANK_BC[key] = bc
    # float64 partial sums stay exact while max|q| * |w| * dim < 2^53;
    # quantize() hard-bounds |q| < 2^31, where the int64 matmul is
    # exact (dim * 2^31 * 1e6 ~ 1.4e17 < 2^63)
    f64_qmax = (2**53) // (SRP_HALF * max(dim, 1))
    vid_type = vec_df.schema[SRP_ID_COL].dataType.simpleString()
    src = vec_df.select(SRP_ID_COL, vec_col) if quantized else vec_df.select(
        SRP_ID_COL, quantize(F.col(vec_col)).alias(vec_col)
    )

    def project(batches):
        import pandas as pd

        wt_i = bc.value.T  # (dim, P) int64
        wt_f = wt_i.astype(np.float64)
        bitvals = (np.int64(1) << np.arange(r, dtype=np.int64))
        band_ids = np.arange(bands, dtype=np.int32)
        for pdf in batches:
            q = _srp_quantized_matrix(pdf[vec_col].to_numpy(), dim)
            if np.abs(q).max(initial=0.0) <= f64_qmax:
                pos = (q @ wt_f) > 0.0  # BLAS, exact in this envelope
            else:
                pos = (q.astype(np.int64) @ wt_i) > 0  # exact fallback
            # bit-pack by matmul: bool (n*bands, r) @ int64 bitvals —
            # measured 2.5x over the broadcast-multiply reduce, which
            # materializes an (n, bands, r) int64 temp
            buckets = (pos.reshape(-1, r) @ bitvals).reshape(len(q), bands)
            yield pd.DataFrame(
                {
                    SRP_ID_COL: pdf[SRP_ID_COL].to_numpy().repeat(bands),
                    "band": np.tile(band_ids, len(q)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return src.mapInPandas(
        project, f"{SRP_ID_COL} {vid_type}, band int, bucket bigint"
    )


def srp_sql_ctes(src: str, bands: int, planes_per_band: int) -> str:
    """DuckDB mirror of :func:`srp_band_buckets` as CTE text: ``wt``
    recomputes the identical md5 weights in SQL; integer projections
    make the parity exact regardless of DuckDB's aggregation order.
    ``src`` must expose (vec_id, v DOUBLE[])."""
    total = bands * planes_per_band
    return f"""wt AS (
    SELECT p, i,
           ('0x' || substr(md5('srp' || CAST(p AS VARCHAR) || '_'
                                || CAST(i AS VARCHAR)), 1, 8))::BIGINT
             % {SRP_MOD} - {SRP_HALF} AS w
    FROM generate_series(0, {total - 1}) t(p), generate_series(1, {EMBED_DIM}) s(i)),
qv AS (
    SELECT vec_id, i, CAST(floor(v[i] * {SRP_QUANT}) AS BIGINT) AS q
    FROM {src}, generate_series(1, {EMBED_DIM}) s(i)),
proj AS (
    SELECT qv.vec_id, wt.p, sum(qv.q * wt.w) AS s
    FROM qv JOIN wt USING (i) GROUP BY 1, 2),
bk AS (
    SELECT vec_id, p // {planes_per_band} AS band,
           CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {planes_per_band}) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM proj GROUP BY 1, 2)"""


def srp_sql_ctes_dynamic(src: str, bands: int) -> str:
    """Like :func:`srp_sql_ctes` but planes-per-band comes from the
    ``cfg`` CTE (:func:`srp_sql_cfg` must precede) so banding scales
    with the corpus. generate_series needs constant bounds in DuckDB,
    so the plane series is generated at the clamp maximum and filtered
    by cfg.r."""
    maxp = bands * SRP_MAX_PLANES
    return f"""wt AS (
    SELECT p, i,
           ('0x' || substr(md5('srp' || CAST(p AS VARCHAR) || '_'
                                || CAST(i AS VARCHAR)), 1, 8))::BIGINT
             % {SRP_MOD} - {SRP_HALF} AS w
    FROM generate_series(0, {maxp - 1}) t(p), generate_series(1, {EMBED_DIM}) s(i), cfg
    WHERE p < {bands} * cfg.r),
qv AS (
    SELECT vec_id, i, CAST(floor(v[i] * {SRP_QUANT}) AS BIGINT) AS q
    FROM {src}, generate_series(1, {EMBED_DIM}) s(i)),
proj AS (
    SELECT qv.vec_id, wt.p, sum(qv.q * wt.w) AS s
    FROM qv JOIN wt USING (i) GROUP BY 1, 2),
bk AS (
    SELECT vec_id, p // cfg.r AS band,
           CAST(sum(CASE WHEN s > 0 THEN 1 << (p % cfg.r) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM proj, cfg GROUP BY 1, 2)"""
