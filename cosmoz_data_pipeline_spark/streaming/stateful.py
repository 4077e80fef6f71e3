"""Stateful sequential validation (SURVEY §2.9 ST5 / §2.5 W2).

The reference flags an intensity row bad when it deviates ±20 % from
the previous *valid* value (/root/reference/nmdb/entrypoint.py:122-134,
nmdb/influx_db.py:255-298), with a 24 h staleness exemption
(nmdb/config.py:12-13: gap > MAXIMUM_LOOKBACK_TIME_DIFF → accept
unconditionally). Validity therefore depends on prior validity — a
run-dependent recursion no window function expresses (SURVEY §7.3).

Spark realization: ``applyInPandas`` per key — Arrow-batched, one
shuffle on the key, a sequential scan *within* each key group (the
recursion is inherently sequential per key; parallelism comes from the
key dimension, which is exactly how the reference parallelized too —
one process per site). The driver oracle is a DuckDB recursive CTE —
an independent second implementation of the same recurrence.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame

# the reference's validity band and staleness exemption
# (nmdb/config.py:12-13)
LOWER, UPPER = 0.8, 1.2
MAX_GAP_SECONDS = 24 * 3600


def _walk(times, values, last_val, last_time):
    """The validity recursion over one key's time-ordered rows, from
    the (last_valid, last_valid_time) state before them (None, None
    for a fresh key). Returns the per-row ``valid`` and ``last_valid``
    lists and the state after the rows."""
    valid, last_vals = [], []
    for t, v in zip(times, values):
        if last_val is None:
            ok = True
        elif t - last_time > MAX_GAP_SECONDS:
            ok = True
        else:
            ok = LOWER * last_val <= v <= UPPER * last_val
        valid.append(ok)
        last_vals.append(v if ok else last_val)
        if ok:
            last_val, last_time = float(v), float(t)
    return valid, last_vals, last_val, last_time


def _epoch_seconds(col: pd.Series) -> pd.Series:
    """Unit-agnostic epoch seconds (datetime64 may be ns or us)."""
    return (col - pd.Timestamp("1970-01-01")).dt.total_seconds()


def validate_sequential(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    order_cols: Iterable[str] = (),
) -> DataFrame:
    """Append ``valid: boolean`` and ``last_valid: double`` per row.

    Per key, ordered by (time_col, *order_cols):
    - first row: valid;
    - gap since last valid row > MAX_GAP_SECONDS: valid (staleness
      exemption — the reference skips the ±20 % check);
    - else valid iff LOWER·last_valid <= value <= UPPER·last_valid.
    Valid rows become the new ``last_valid`` reference.
    """
    from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

    order = [time_col, *order_cols]
    # fresh StructType — StructType.add mutates in place, and df.schema
    # is a cached reference
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("valid", BooleanType()), StructField("last_valid", DoubleType())]
    )

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        values = pdf[value_col].astype("float64")
        pdf["valid"], pdf["last_valid"], _, _ = _walk(
            _epoch_seconds(pdf[time_col]), values, None, None
        )
        return pdf

    return df.groupBy(key).applyInPandas(check, schema=out_schema)


def validate_sequential_stream(
    stream_df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """The STREAMING form of :func:`validate_sequential`:
    ``applyInPandasWithState`` carries (last_valid, last_valid_time)
    per key across micro-batches, so the run-dependent recursion
    continues seamlessly over an unbounded ingest — the reference's
    long-lived per-site process state (nmdb/entrypoint.py:122-134),
    re-expressed as fault-tolerant checkpointed stream state.

    Within a micro-batch rows are ordered by ``time_col``; across
    batches correctness requires per-key time-ordered arrival (true
    for the hourly NEST feed and for file sources processed oldest-
    first). State is two doubles per key — O(keys) executor memory
    regardless of stream length.
    """
    from typing import Any, Iterator

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(stream_df.schema.fields)
        + [StructField("valid", BooleanType()), StructField("last_valid", DoubleType())]
    )
    state_schema = StructType(
        [StructField("last_valid", DoubleType()), StructField("last_time", DoubleType())]
    )

    def check(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_val, last_time = state.get if state.exists else (None, None)
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col, kind="mergesort").reset_index(drop=True)
            values = pdf[value_col].astype("float64")
            pdf["valid"], pdf["last_valid"], last_val, last_time = _walk(
                _epoch_seconds(pdf[time_col]), values, last_val, last_time
            )
            yield pdf
        if last_val is not None:
            state.update((last_val, last_time))

    return stream_df.groupBy(key).applyInPandasWithState(
        check, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
