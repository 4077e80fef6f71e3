"""Deterministic synthetic cosmoz domain tables, derived from the
driver's test corpus with dialect-portable SQL.

The reference pipeline operates on four tables that the driver corpus
does not ship: ``raw_values``, ``intensity``, ``silo_data`` (InfluxDB
measurements) and ``all_stations`` (MongoDB dimension) — schemas per
/root/reference/pipeline/csv_influx_converter.py:350-374 (raw),
:118-129 (intensity), :150-175 (silo) and
/root/reference/pipeline/csv_mongodb_converter.py:47-77 (stations).

To keep the level-pipeline queries *oracle-checkable*, we derive those
tables deterministically from the shipped ``events`` and ``nation``
parquet with SQL that parses and evaluates identically in Spark SQL
and DuckDB (the restricted common dialect: CASE/%/floor/CAST/
date_trunc/INTERVAL k UNIT * n/window functions; numeric literals in
E-notation because ``10.0`` is DECIMAL in Spark but the E-form is
DOUBLE in both engines). Both engines therefore compute the same rows
bit-for-bit, and the DuckDB oracle re-creates the inputs inline via a
WITH prelude.

Layout: 8 sites; one raw row per event; per-site cadence 20 minutes
(sub-hourly, which stresses the hour-grain intensity join and the
LIMIT-7 cap of the level-4 moving average). Edge cases injected per
/root/repo/FIXTURES.md §6:

- exact duplicates 20 min after an original (``event_id % 7 = 3``
  copies the payload of ``event_id - 8`` = previous row, same site) —
  the 29-minute dedup path,
  /root/reference/pipeline/cosmoz_process_levels.py:375-390;
- near-duplicates (equal count only, ``event_id % 13 = 5``) that must
  NOT be dropped (full-record comparator, :316-337);
- battery < 10 rows (flag 4, :397-398); count jumps to 3000
  (±20 % rule → flag 1, :399);
- zero pressures, zero external temp/humidity (fallback ladders,
  :194-199, :221-249);
- intensity gaps (backward as-of), a late-starting site 3 (forward
  as-of), an intensity-less site 8 (corr = 1.0), zero-intensity rows
  (div-zero guard, :280-282);
- silo days missing, silo rows at 13:00 (outside the reference's
  [00:00, 11:59:59.999999] "day" window quirk, :202), zero humidity
  (wv_corr = 1.0 → level-3 flag 5).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table

N_SITES = 8
EPOCH = "TIMESTAMP '2021-01-01 00:00:00'"
STEP_SECONDS = 1200  # 20-minute per-site cadence

# --- shared dialect-portable CTE bodies -------------------------------

# one synthetic probe reading per event row
RAW_BASE_SQL = f"""
SELECT
    CAST(event_id % {N_SITES} + 1 AS INT) AS site_no,
    CAST(floor(event_id / 8e0) AS BIGINT) AS g,
    CASE WHEN event_id % 7 = 3 AND event_id >= {N_SITES}
         THEN event_id - {N_SITES} ELSE event_id END AS pk,
    CASE WHEN event_id % 7 <> 3 AND event_id % 13 = 5 AND event_id >= {N_SITES}
         THEN event_id - {N_SITES}
         ELSE CASE WHEN event_id % 7 = 3 AND event_id >= {N_SITES}
                   THEN event_id - {N_SITES} ELSE event_id END
    END AS ck
FROM events
"""

RAW_VALUES_SQL = f"""
SELECT
    {EPOCH} + INTERVAL 1 SECOND * (g * {STEP_SECONDS}) AS time,
    site_no,
    CAST(CASE WHEN pk % 31 = 0 THEN 6 ELSE 0 END AS INT) AS flag,
    CAST(CASE WHEN ck % 41 = 0 THEN 3000 ELSE 1200 + (ck % 601) END AS BIGINT) AS count,
    CASE WHEN pk % 37 = 0 THEN 0e0 ELSE 9.5e2 + (pk % 800) / 1e1 END AS pressure1,
    2e1 + (pk % 150) / 1e1 AS internal_temperature,
    3e1 + (pk % 400) / 1e1 AS internal_humidity,
    CASE WHEN pk % 53 = 0 THEN 9.5e0 ELSE 1.2e1 + (pk % 16) / 1e1 END AS battery,
    1.5e1 + (pk % 250) / 1e1 AS tube_temperature,
    2e1 + (pk % 500) / 1e1 AS tube_humidity,
    CASE WHEN pk % 5 = 0 THEN CAST(pk % 17 AS DOUBLE) ELSE 0e0 END AS rain,
    (pk % 300) / 1e1 AS vwc1,
    (pk % 350) / 1e1 AS vwc2,
    (pk % 410) / 1e1 AS vwc3,
    CASE WHEN pk % 23 = 0 THEN 0e0 ELSE 9.48e2 + ((pk + 7) % 820) / 1e1 END AS pressure2,
    CASE WHEN pk % 19 = 0 THEN 0e0 ELSE 5e0 + (pk % 300) / 1e1 END AS external_temperature,
    CASE WHEN pk % 29 = 0 THEN 0e0 ELSE 2e1 + (pk % 600) / 1e1 END AS external_humidity
FROM raw_base
"""

# hourly neutron-monitor reference series (gaps + late start + absent
# site + occasional zero value), keyed by hour index h = floor(g/3)
INTENSITY_SQL = f"""
SELECT
    {EPOCH} + INTERVAL 1 SECOND * (h * 3600) AS time,
    site_no,
    CAST(CASE WHEN (h + site_no) % 23 = 0 THEN 1 ELSE 0 END AS INT) AS bad_data_flag,
    CASE WHEN (h * 7 + site_no) % 97 = 0 THEN 0e0
         ELSE 1.1e2 + ((h * 7 + site_no) % 300) / 1e1 END AS intensity
FROM (
    SELECT DISTINCT site_no, CAST(floor(g / 3e0) AS BIGINT) AS h
    FROM raw_base
) hours
WHERE (h + site_no) % 5 <> 2
  AND NOT (site_no = 3 AND h < 48)
  AND site_no <> {N_SITES}
"""

# daily climate rows (some days missing, some at 13:00 → outside the
# reference's noon-bounded SILO lookup window, some with zero humidity)
SILO_SQL = f"""
SELECT
    {EPOCH} + INTERVAL 1 SECOND * (d * 86400)
        + INTERVAL 1 SECOND * (CASE WHEN (d + site_no) % 11 = 0 THEN 46800 ELSE 0 END) AS time,
    site_no,
    2.5e1 + ((d * 3 + site_no) % 150) / 1e1 AS t_max,
    2.4e1 + ((d * 3 + site_no) % 150) / 1e1 AS smx,
    5e0 + ((d * 3 + site_no) % 100) / 1e1 AS t_min,
    5.5e0 + ((d * 3 + site_no) % 100) / 1e1 AS smn,
    CASE WHEN (d + site_no) % 4 = 0 THEN ((d + site_no) % 25) / 2e0 ELSE 0e0 END AS rain,
    0e0 AS srn,
    3e0 + ((d + site_no) % 40) / 1e1 AS evap,
    3.1e0 + ((d + site_no) % 40) / 1e1 AS sev,
    1.5e1 + ((d + site_no) % 120) / 1e1 AS radn,
    1.51e1 + ((d + site_no) % 120) / 1e1 AS ssl,
    1e1 + ((d + site_no) % 200) / 1e1 AS vp,
    1.01e1 + ((d + site_no) % 200) / 1e1 AS svp,
    6e1 + ((d + site_no) % 300) / 1e1 AS rh_max_t,
    3e1 + ((d + site_no) % 300) / 1e1 AS rh_min_t,
    1e1 + ((d * 3 + site_no) % 250) / 1e1 AS average_temperature,
    CASE WHEN (d * 5 + site_no) % 13 = 0 THEN 0e0
         ELSE 4e1 + ((d * 5 + site_no) % 500) / 1e1 END AS average_humidity
FROM (
    SELECT DISTINCT site_no, CAST(floor(g / 7.2e1) AS BIGINT) AS d
    FROM raw_base
) days
WHERE (d + site_no) % 7 <> 3
"""

# calibration dimension: one row per site, constants in the reference's
# plausible ranges (pipeline/all_stations.tsv); site 5 uses the "sandy"
# alternate algorithm (cosmoz_process_levels.py:106-111,130-139)
ALL_STATIONS_SQL = f"""
SELECT
    CAST(n_nationkey + 1 AS INT) AS site_no,
    n_name AS site_name,
    -3.5e1 + (n_nationkey + 1) AS latitude,
    1.4e2 + (n_nationkey + 1) AS longitude,
    1e2 * (n_nationkey + 1) AS altitude,
    TIMESTAMP '2020-12-01 00:00:00' + INTERVAL 1 SECOND * (86400 * (n_nationkey + 1)
        + CASE WHEN n_nationkey + 1 = 6 THEN 3110400 ELSE 0 END) AS installation_date,
    9.5e2 + 5e0 * (n_nationkey + 1) AS ref_pressure,
    1.15e2 + 2e0 * (n_nationkey + 1) AS ref_intensity,
    2e0 + (n_nationkey + 1) / 1e1 AS cutoff_rigidity,
    1e0 + (n_nationkey + 1) / 5e1 AS elev_scaling,
    6e-1 + (n_nationkey + 1) / 1e2 AS latit_scaling,
    1e0 AS scaling,
    6e-3 + (n_nationkey + 1) / 1e4 AS beta,
    2.4e3 + 5e1 * (n_nationkey + 1) AS n0_cal,
    1.3e0 + (n_nationkey + 1) / 1e2 AS bulk_density,
    1e-2 + (n_nationkey + 1) / 1e3 AS lattice_water_g_g,
    5e-3 AS soil_organic_matter_g_g,
    CASE WHEN n_nationkey + 1 = 5 THEN 'sandy' ELSE NULL END AS alternate_algorithm
FROM nation
WHERE n_nationkey < {N_SITES}
"""

DOMAIN_CTES: tuple[tuple[str, str], ...] = (
    ("raw_base", RAW_BASE_SQL),
    ("raw_values", RAW_VALUES_SQL),
    ("intensity", INTENSITY_SQL),
    ("silo_data", SILO_SQL),
    ("all_stations", ALL_STATIONS_SQL),
)


def domain_prelude(*extra_ctes: tuple[str, str]) -> str:
    """``WITH ...`` prefix defining every domain table (+ extras),
    embeddable in both a DuckDB oracle query and ``spark.sql``."""
    ctes = DOMAIN_CTES + tuple(extra_ctes)
    body = ",\n".join(f"{name} AS ({sql})" for name, sql in ctes)
    return f"WITH {body}"


# the tables a CTE body reads: the two corpus tables and raw_base
_SOURCE_REF = re.compile(r"\bFROM (events|nation|raw_base)\b")


def load_domain(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Materialize the five domain tables as DataFrames.

    The same CTE bodies the oracle embeds are executed by Spark SQL, so
    both engines derive identical inputs from the shared parquet. Each
    body reads the frames it names bound as ``spark.sql`` arguments, so
    ``raw_base`` is built once and shared, and no view name of the
    caller's is created or replaced. (PySpark binds each frame as a
    ``_pyspark_<uuid>`` temp view for the length of the ``spark.sql``
    call and drops it after; ``pyspark/sql/sql_formatter.py``.)
    """
    frames = {name: load_table(spark, sf_dir, name) for name in ("events", "nation")}
    for name, sql in DOMAIN_CTES:
        frames[name] = spark.sql(_SOURCE_REF.sub(r"FROM {\1}", sql), **frames)
    return {name: frames[name] for name, _ in DOMAIN_CTES}
