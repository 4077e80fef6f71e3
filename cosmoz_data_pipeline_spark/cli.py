"""Operational entry points mirroring the reference's user surface.

Reference CLIs (each becomes one Spark application run here):

- ``process-levels``: /root/reference/pipeline/cosmoz_process_levels.py
  main() (:677-749) — ``-d`` days-backprocess / ``-t`` timestamp,
  optional single site, then per-site recompute + DROP SERIES +
  rewrite. Here: one logical plan over all sites (the per-site OS
  process pool, :739-744, is Spark's partitioning), incremental window
  filter, dynamic-partition overwrite of only the touched site_no
  partitions per level. Each level is computed once (level1-level3
  persisted for the call) and the four levels are written
  concurrently, one job-tagged write thread per level.
- ``backfill``: populate_dbs.sh — bulk historical load of every level
  (backprocess window = everything).

Inputs are parquet directories containing the canonical tables
(``raw_values``, ``intensity``, ``silo_data``, ``all_stations`` — or
the driver test corpus from which they are derived). Outputs are
per-level parquet tables partitioned by ``site_no``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .domain import levels
from .domain.synth import load_domain
from .session import build_session
from .streaming.incremental import incremental_overwrite

LEVELS = ("level1", "level2", "level3", "level4")


def _resolve_since(days: int | None, timestamp: str | None, now: dt.datetime | None) -> str:
    """Backprocess-window resolution per the reference (:701-716):
    explicit timestamp wins, else now − days (default 365)."""
    if timestamp:
        return timestamp
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    return (now - dt.timedelta(days=days if days is not None else 365)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def process_levels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    since: str,
    site_no: int | None = None,
    spec_mode: bool = False,
    suffix: str = "",
) -> dict[str, str]:
    """Recompute every level for rows with ``time >= since`` and
    dynamic-partition-overwrite the touched ``site_no`` partitions —
    the idempotent equivalent of the reference's per-site
    DROP SERIES + rewrite (:56-58).

    Each level is computed once: level1-level3 are persisted for the
    duration of the call, so the level2-level4 plans read them from
    the cache instead of replanning the lineage, and they are released
    before returning, also when a write fails. The four levels are
    written concurrently, one thread per level, each carrying the
    caller's job group, description and scheduler pool plus the job
    tag ``cosmoz-level-<name>``. Every write finishes before the first
    failure (in level order) is re-raised; a partial failure leaves
    the levels that committed committed, the others as they were, and
    a re-run is idempotent.

    ``suffix`` writes shadow tables (``level2_temp`` …) for the golden
    A/B workflow (the reference's do_tests mode).
    """
    d = load_domain(spark, input_dir)
    raw = d["raw_values"]
    if site_no is not None:
        raw = raw.where(F.col("site_no") == site_no)
    out = levels.run_pipeline(
        raw, d["intensity"], d["silo_data"], d["all_stations"], spec_mode=spec_mode
    )
    sinks = {name: os.path.join(output_dir, name + suffix) for name in LEVELS}
    persisted: list[DataFrame] = []
    try:
        for name in LEVELS[:-1]:
            persisted.append(out[name].persist())
        with ThreadPoolExecutor(max_workers=len(LEVELS)) as pool:
            # one wrapper per task: each thread gets its own copy of the
            # caller's local properties, so the job tags stay per level
            futures = [
                pool.submit(
                    inheritable_thread_target(spark)(_write_level),
                    spark, name, out[name], sinks[name], since,
                )
                for name in LEVELS
            ]
        for f in futures:
            f.result()
    finally:
        for df in persisted:
            df.unpersist()
    return sinks


def _write_level(
    spark: SparkSession, name: str, df: DataFrame, sink: str, since: str
) -> None:
    sc = spark.sparkContext
    tag = f"cosmoz-level-{name}"
    sc.addJobTag(tag)
    try:
        incremental_overwrite(df, sink, since=since)
    finally:
        sc.removeJobTag(tag)


#: per-level (abs, rel) A/B thresholds, EXACTLY the reference's do_tests
#: numbers (/root/reference/pipeline/cosmoz_process_levels.py — the
#: reference tests percent, diff/orig*100 < T, so rel = T/100):
#: level1 exact (:456-480), level2 rel 8.88888912e-07 % (:510),
#: level3 abs 1e-5 ∨ rel 3.3e-4 % (:556),
#: level4 abs 3.29e-5 ∨ rel 4.8e-6 % (:604).
AB_THRESHOLDS: dict[str, tuple[float, float]] = {
    "level1": (0.0, 0.0),
    "level2": (0.0, 8.88888912e-09),
    "level3": (1e-5, 3.3e-6),
    "level4": (3.29e-5, 4.8e-8),
}

_AB_KEYS = ["time", "site_no"]


def golden_ab_report(
    spark: SparkSession, output_dir: str, names: tuple[str, ...] = LEVELS
) -> dict[str, dict]:
    """The reference's between-stage do_tests flow, distributed: diff
    each golden ``<level>`` table against its ``<level>_temp`` shadow
    with that level's exact thresholds (a keyed full-outer join +
    tolerance predicate — no driver-side row zip, and unlike the
    reference's zip it surfaces missing/extra keys instead of silently
    truncating). Returns {level: {rows, mismatches, ok}}."""
    from .operators.tolerance import tolerance_diff

    report: dict[str, dict] = {}
    for name in names:
        gold = read_level(spark, output_dir, name)
        temp = spark.read.parquet(os.path.join(output_dir, name + "_temp"))
        val_cols = [
            c
            for c, t in gold.dtypes
            if c not in _AB_KEYS
            and t in ("double", "float", "int", "bigint", "smallint")
        ]
        right = temp.select(
            *_AB_KEYS, *[F.col(c).alias(f"{c}_b") for c in val_cols]
        )
        abs_t, rel_t = AB_THRESHOLDS[name]
        diff = tolerance_diff(
            gold.select(*_AB_KEYS, *val_cols),
            right,
            _AB_KEYS,
            [(c, f"{c}_b") for c in val_cols],
            abs_tol=abs_t,
            rel_tol=rel_t,
        )
        n_bad = diff.count()
        report[name] = {
            "rows": gold.count(),
            "mismatches": n_bad,
            "ok": n_bad == 0,
        }
    return report


def read_level(spark: SparkSession, output_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, name))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="cosmoz-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pl = sub.add_parser("process-levels", help="incremental level recompute")
    pl.add_argument("-d", "--days-backprocess", type=int, default=None)
    pl.add_argument("-t", "--timestamp", default=None, help="process since (UTC)")
    pl.add_argument("--site", type=int, default=None)
    pl.add_argument("--spec-mode", action="store_true")
    pl.add_argument(
        "--temp",
        action="store_true",
        help="write <level>_temp shadow tables and A/B them against the "
        "golden tables with the reference's per-level thresholds "
        "(do_tests mode); exits 1 on any out-of-tolerance level",
    )
    pl.add_argument("--input", required=True)
    pl.add_argument("--output", required=True)

    bf = sub.add_parser("backfill", help="bulk historical load (all time)")
    bf.add_argument("--input", required=True)
    bf.add_argument("--output", required=True)

    args = p.parse_args(argv)
    spark = build_session(app_name="cosmoz-cli")
    try:
        if args.cmd == "process-levels":
            since = _resolve_since(args.days_backprocess, args.timestamp, None)
            process_levels(
                spark, args.input, args.output, since,
                site_no=args.site, spec_mode=args.spec_mode,
                suffix="_temp" if args.temp else "",
            )
            if args.temp:
                report = golden_ab_report(spark, args.output)
                failed = False
                for name, r in report.items():
                    status = "PASS" if r["ok"] else "FAIL"
                    failed = failed or not r["ok"]
                    print(
                        f"AB {name}: rows={r['rows']} "
                        f"mismatches={r['mismatches']} {status}"
                    )
                if failed:
                    raise SystemExit(1)
        else:
            process_levels(spark, args.input, args.output, since="1970-01-01 00:00:00")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
