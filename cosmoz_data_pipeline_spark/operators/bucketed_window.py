"""Scale-safe per-key sequence windows via time-bucketing + boundary
exchange (the level chain's big shape; profile.chain_big picks it).

The domain keys everything on ~22 sites (reference
pipeline/all_stations.tsv; one OS process per site,
pipeline/cosmoz_process_levels.py:739-744), so a
``Window.partitionBy(site_no)`` is an 8-22-task stage whose per-task
sort volume grows linearly with per-site history forever — measured
at the x1000 decade as 19.3 GiB mem + 5.5 GiB disk of sort spill in
the level1 prefix alone (LEVEL4_STAGES.json): no partition count can
split a sort keyed on 8 values.

The fix is the standard two-pass shape, in plain DataFrame ops:
``bucketed_lag``: lag-1 over (keys, time) = an in-bucket lag over
``(keys, floor(time/W))`` — one BALANCED hash shuffle, small
per-group sorts — plus a boundary exchange: each bucket's max-time
row (one row per key per bucket, map-side-combined aggregate) is
chained through a window over the TINY per-bucket table so every
bucket knows its predecessor bucket's tail, then broadcast-joined
back; a bucket's first row takes the boundary value, every other
row its in-bucket lag. Row-for-row identical to the single-key
window (pinned by tests/test_bucketed_window.py).

Bucket width W: fixed 7 days. The per-(key, bucket) group is then
cadence-bounded (504 rows at the domain's 20-min grid; ~10k at a
1-min grid), the hash shuffle spreads groups over every reducer the
corpus-sized partition count provides, and the boundary table is one
row per key-week — KBs per key-decade, safely broadcast (at a scale
where it outgrew broadcast, dropping the hint falls back to a tiny
shuffle join; AQE would re-pick broadcast anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKET_SECS = 7 * 86400


def bucketed_lag(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    cols: Sequence[str],
    out_names: Sequence[str],
) -> DataFrame:
    """``out_names[i] = lag(cols[i]) over (partitionBy(*keys)
    orderBy(time_col))``, computed without a per-key global sort.

    Exactness: a bucket's first row (row_number 1 within
    (keys, bucket) ordered by time) takes the previous NON-EMPTY
    bucket's max-time values — ``lag`` over the per-bucket tail table
    skips empty weeks by construction since only non-empty buckets
    have a tail row. Every other row takes its in-bucket lag. Ties in
    ``time_col`` are resolved by the same nondeterministic in-sort
    order as the plain window (the domain grid has none).
    """
    keys = list(keys)
    secs = F.col(time_col).cast("long")
    with_b = df.withColumn("__bkt", F.floor(secs / F.lit(BUCKET_SECS)).cast("long"))
    w_in = Window.partitionBy(*keys, "__bkt").orderBy(time_col)
    # per-bucket tail: the max-time row's values, one row per
    # (keys, bucket) — partial-aggregated map-side, so the shuffle
    # carries buckets, not data rows
    tails = with_b.groupBy(*keys, "__bkt").agg(
        *[F.max_by(c, secs).alias(f"__tail_{c}") for c in cols]
    )
    # chain: each bucket sees its predecessor's tail. Window over the
    # tiny bucket table — per-key volume is #weeks, not #rows.
    w_chain = Window.partitionBy(*keys).orderBy("__bkt")
    prevs = tails.select(
        *keys,
        "__bkt",
        *[F.lag(f"__tail_{c}").over(w_chain).alias(f"__prev_{c}") for c in cols],
    )
    out = (
        with_b.withColumn("__rn", F.row_number().over(w_in))
        .withColumns({n: F.lag(c).over(w_in) for c, n in zip(cols, out_names)})
        .join(F.broadcast(prevs), [*keys, "__bkt"], "left")
    )
    for c, n in zip(cols, out_names):
        out = out.withColumn(
            n, F.when(F.col("__rn") == 1, F.col(f"__prev_{c}")).otherwise(F.col(n))
        )
    return out.drop("__bkt", "__rn", *[f"__prev_{c}" for c in cols])
