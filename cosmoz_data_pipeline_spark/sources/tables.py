"""Parquet table loaders for the benchmark/test corpus (S1/S2).

Reference analog: projected+predicated InfluxQL scans
(/root/reference/pipeline/cosmoz_process_levels.py:49-54) — here a
plain ``spark.read.parquet`` whose filters/projections Catalyst pushes
into the columnar scan (PushedFilters / ReadSchema in .explain()).

One wrinkle: an ``events.ts`` stored as INT64 TIMESTAMP(NANOS) is
accepted by Spark's parquet reader only with
``spark.sql.legacy.parquet.nanosAsLong=true`` (returns the raw int64).
We convert nanos → TIMESTAMP_NTZ(micros) explicitly, matching DuckDB's
truncating nanos→micros cast so both engines see identical values. The
test corpora store ``timestamp[us]``, which skips the conversion; the
branch is for NANOS parquet from other writers
(tests/test_oracle_parity.py writes one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scale_shuffle_partitions

# columns that, when stored as TIMESTAMP(NANOS), arrive as int64 under
# nanosAsLong and need explicit conversion
_NANOS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``sf_dir``'s table ``name``. The session is hardened already:
    ``build_session`` sets the runtime confs, and ``__spark_entry__``
    hardens the caller's session per query."""
    path = f"{sf_dir}/{name}.parquet"
    # spill-aware: size the shuffle-partition ceiling to the corpus
    # bytes loaded so far (AQE coalesces back down; see session.py)
    scale_shuffle_partitions(spark, sf_dir, path)
    df = spark.read.parquet(path)
    for col in _NANOS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integer division keeps full precision (ns beyond 2^53);
            # CAST LTZ→NTZ under the UTC session tz is a no-op rebase
            df = df.withColumn(
                col, F.expr(f"CAST(timestamp_micros({col} div 1000) AS TIMESTAMP_NTZ)")
            )
    return df
