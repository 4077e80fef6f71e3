"""NMDB NEST ASCII protocol source (SURVEY §2.1 S7).

The reference fetches `http://nmdb.eu/nest/draw_graph.php?...` and
parses `timestamp;value` ASCII lines, skipping the preamble until the
`RCORR_E` header and treating `null` as missing
(/root/reference/nmdb/data_getter.py:39-123, 194-239).

Here the HTTP fetch is a driver-side concern (batch pull →
``spark.createDataFrame`` — the range endpoint already returns whole
windows); the *parser* is a distributed DataFrame transform so a 100 TB
backfill of archived NEST dumps parses in parallel.
"""

from __future__ import annotations

import urllib.request
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: lines that look like `2021-01-01 00:00:00;123.45`
_DATA_LINE = r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2};"

NEST_BASE = "http://nmdb.eu/nest/draw_graph.php"

#: the raw-line column :func:`parse_nmdb_lines` parses
LINE_COL = "line"


def parse_nmdb_lines(lines: DataFrame) -> DataFrame:
    """Parse `ts;value` records out of raw NEST response lines.

    Preamble/garbage lines (no leading timestamp) are dropped — the
    reference's "skip until RCORR_E" loop (data_getter.py:104-113);
    `null` markers survive as NULL intensity with a flag
    (data_getter.py:116-119 skips them; we keep the marker so callers
    can choose). Columns other than ``line`` pass through (e.g. the
    station tag a fetcher attached).
    """
    c = F.col(LINE_COL)
    passthrough = [col for col in lines.columns if col != LINE_COL]
    parsed = lines.where(c.rlike(_DATA_LINE)).select(
        *passthrough,
        F.split(c, ";").getItem(0).alias("ts_str"),
        F.trim(F.split(c, ";").getItem(1)).alias("raw_value"),
    )
    return parsed.select(
        *passthrough,
        "ts_str",
        F.when(F.col("raw_value") != "null", F.col("raw_value").cast("double")).alias(
            "intensity"
        ),
        (F.col("raw_value") == "null").alias("is_null_marker"),
    )


def nmdb_fetch_window(start: datetime, end: datetime) -> tuple[datetime, datetime]:
    """The reference's fetch window: hour-floored ``[start-1h, end+2h]``
    with start_min=00 / end_min=59 (data_getter.py:47-65, 147-170)."""
    s = start.replace(minute=0, second=0, microsecond=0) - timedelta(hours=1)
    e = end.replace(minute=0, second=0, microsecond=0) + timedelta(hours=2)
    return s, e


def build_nest_url(
    station: str, start: datetime, end: datetime, base: str = NEST_BASE
) -> str:
    """The NEST draw_graph.php query URL, field-for-field the
    reference's (data_getter.py:67-72, 172-178): windowed per
    :func:`nmdb_fetch_window`, 60-min resolution, ASCII revori output,
    efficiency-corrected counts."""
    s, e = nmdb_fetch_window(start, end)
    return (
        f"{base}?formchk=1&stations%5B%5D={station}"
        "&last_days=1&last_label=days_label&date_choice=bydate"
        f"&start_day={s.day}&start_month={s.month}&start_year={s.year}"
        f"&start_hour={s.hour}&start_min=00"
        f"&end_day={e.day}&end_month={e.month}&end_year={e.year}"
        f"&end_hour={e.hour}&end_min=59"
        "&tresolution=60&output=ascii&tabchoice=revori"
        "&dtype=corr_for_efficiency&yunits=0"
    )


def fetch_nmdb_lines(
    station: str, start: datetime, end: datetime, base_url: str = NEST_BASE
) -> list[str]:
    """Driver-side range fetch for one station.

    ``http(s)://`` bases issue the reference's single ranged GET
    (:func:`build_nest_url`). ``file://`` bases read an hourly archive
    — ``<base>/<station>/YYYYMMDDHH.txt`` — stepping hour-by-hour
    across the same ``[start-1h, end+2h]`` window (the sandbox has no
    network; the archive layout is how NEST dumps are mirrored).
    Missing hours are skipped, mirroring the reference's None-on-no-
    data (data_getter.py:85-88).
    """
    if base_url.startswith("file:"):
        s, e = nmdb_fetch_window(start, end)
        lines: list[str] = []
        t = s
        while t <= e:
            try:
                with urllib.request.urlopen(
                    f"{base_url}/{station}/{t:%Y%m%d%H}.txt"
                ) as r:
                    lines += r.read().decode("utf-8").splitlines()
            except OSError:
                pass
            t += timedelta(hours=1)
        return lines
    with urllib.request.urlopen(build_nest_url(station, start, end, base=base_url)) as r:
        return r.read().decode("utf-8").splitlines()


def nmdb_ingest(
    spark: SparkSession,
    stations: list[str],
    start: datetime,
    end: datetime,
    base_url: str = NEST_BASE,
) -> DataFrame:
    """The composed S7 pipeline (reference nmdb/entrypoint.py:69-134):
    fetch each station's window (driver-side, like the reference's
    per-site fetch loop) → distribute → :func:`parse_nmdb_lines` →
    drop null markers → ±20 %/24 h sequential validity (ST5/W2).
    Returns (station, ts, intensity, valid, last_valid)."""
    from ..streaming.stateful import validate_sequential

    rows = [
        (st, ln)
        for st in stations
        for ln in fetch_nmdb_lines(st, start, end, base_url)
    ]
    raw = spark.createDataFrame(rows, "station string, line string")
    parsed = parse_nmdb_lines(raw)
    data = parsed.where(~F.col("is_null_marker")).select(
        "station",
        F.to_timestamp("ts_str").alias("ts"),
        "intensity",
    )
    return validate_sequential(
        data, key="station", time_col="ts", value_col="intensity"
    )
