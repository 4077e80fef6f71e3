"""SparkSession construction & session hardening.

The engine is designed for a large multi-executor cluster; locally we
run ``local[N]``. Every knob below is motivated by the 100 TB target:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting (hot ``site_no`` partitions — the reference hand-sharded
  per site via one OS process per site,
  /root/reference/pipeline/cosmoz_process_levels.py:739-744).
- ``spark.sql.session.timeZone=UTC``: the reference computes entirely
  in UTC (/root/reference/pipeline/cosmoz_process_levels.py:44).
- nanos-as-long: Spark's parquet reader rejects a TIMESTAMP(NANOS)
  column unless it may read it as the raw int64, which the loader
  converts explicitly (sources/tables.py). The test corpora store
  ``timestamp[us]``; the conf is for NANOS parquet from other writers.
- a generated-class cache that holds the level chain's working set
  (``CODEGEN_CACHE_ENTRIES``), so a warm process compiles each class
  once, and no per-Column call-site capture in PySpark.
- a fork-free ``file:`` filesystem (``jvm/``): pip-installed PySpark
  ships no ``libhadoop``, so Hadoop's local filesystem starts a
  ``chmod`` process for every file and directory it creates and a
  ``readlink`` process for every link-status check (hundreds per
  stream tick, ~4 per level partition file). The jar's classes give
  the same results through ``java.nio``; other schemes keep Hadoop's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .profile import partitions_for, path_bytes

APP_NAME = "cosmoz-data-pipeline-spark"

# Built from the sources beside it (README, "Local filesystem").
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "cosmoz-localfs.jar")

# Entries of Spark's generated-class cache
# (``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's
# default is 100). The cache is LRU, and a working set larger than it
# evicts each class before its next use, so every repeat recompiles.
# Measured on a 4-core host: the first ``process_levels`` backfill of
# sf0.001 compiles 117-119 classes; with 100 entries every later
# backfill in the process recompiled 68-86 of them (0.5-0.7 s of
# Janino plus the JIT work on each fresh class), while with 200, 400
# or 1000 a repeat compiles 0-4 (codegen stages that AQE numbers
# differently from run to run). 1000 is the smallest of these
# that also holds ``bench.py``'s repeats at sf0.1: its three passes over
# the registry touch 659 distinct classes, and passes 2 and 3
# recompiled 862-867 classes each with 100 entries, 622-627 with 400
# and 20-22 with 1000. Timings are in README "Session".
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Per corpus dir, the bytes of each table loaded so far (the basis of
# scale_shuffle_partitions below).
_loaded_bytes_by_dir: dict[str, dict[str, int]] = {}


def scale_shuffle_partitions(spark: SparkSession, sf_dir: str, path: str) -> int:
    """Record ``path`` (one table of corpus ``sf_dir``) as loaded and
    size ``spark.sql.shuffle.partitions`` to the corpus bytes seen so
    far (``profile.partitions_for``, whose comment holds the evidence).
    AQE only coalesces below this count, so it is the engine's one
    upward scale knob. Monotone per corpus dir — a later small-dim load never
    shrinks the count a fact table established — and re-derived per
    dir, so stepping from a x1000 corpus back to a test SF returns to
    the floor. Runtime-settable, so it also hardens externally-built
    sessions (the correctness driver's) exactly like harden_session.
    """
    seen = _loaded_bytes_by_dir.setdefault(sf_dir, {})
    seen[path] = path_bytes(spark, path)
    # the floor is the session's own configured baseline (tests run 8,
    # build_session defaults to core count, the external driver
    # session has neither and gets the core-count default)
    try:
        floor = int(spark.conf.get("spark.cosmoz.shuffle.floor"))
    except Exception:
        floor = max(default_parallelism(), 8)
    want = partitions_for(sum(seen.values()), floor)
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) != want:
            spark.conf.set("spark.sql.shuffle.partitions", str(want))
    except Exception:
        pass  # immutable in this session (never on stock Spark)
    return want


def _runtime_confs() -> tuple[tuple[str, str], ...]:
    """The runtime-settable SQL confs every session gets: set at build
    time by ``build_session`` and on a live session by
    ``harden_session``."""
    return (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # keep AQE from coalescing small-benchmark shuffles below the
        # key parallelism (8-22 sites) — at production scale partitions
        # far exceed these floors, so the settings are inert there
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb"),
        ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4mb"),
        # let AQE coalesce the plans that persist() caches, as it does
        # every other shuffle. Spark's default (false) keeps a cached
        # frame at spark.sql.shuffle.partitions partitions, and every
        # stage that builds or reads it runs that many tasks: a warm
        # process_levels backfill of the perfbench cron corpus ran 105
        # tasks with it off and 28 with it on (README "Session").
        # Partitioning only, never rows.
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
        # split small file scans into >= core-count partitions (a
        # scan-time split, NOT a shuffle): a 1-file dimension read
        # otherwise serializes fan-out stages (explode) behind 1 task.
        # At production scale input splits >> cores and this is inert.
        ("spark.sql.files.minPartitionNum", str(default_parallelism())),
    )


def build_session(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = APP_NAME,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in _runtime_confs():
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # baseline for scale_shuffle_partitions: never size below the
        # caller's explicit choice, always return to it on small dirs
        .config("spark.cosmoz.shuffle.floor", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parquet timestamps as TIMESTAMP_MICROS, not the deprecated
        # INT96 default: µs is Spark's own internal precision, every
        # engine (DuckDB, pyarrow) reads it natively, and pyarrow's
        # INT96 path coerces to NANOSECONDS whose int64 horizon ends
        # 2262-04-11 — long-horizon timestamps (the x1000 corpus spans
        # centuries) silently WRAP on read (round 14; the scan-local
        # kernel additionally pins coerce_int96_timestamp_unit for
        # foreign INT96 files)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # no per-Column call-site capture: PySpark wraps every Column
        # call in ~6 py4j round trips to record the Python frame for
        # SQL error contexts (264 calls per run_pipeline). An analysis
        # error still names the missing column; it loses only the
        # Python line that built the failing Column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.extraClassPath", LOCALFS_JAR)
        .config("spark.executor.extraClassPath", LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", "cosmoz.localfs.NioLocalFileSystem")
        # FileContext (streaming checkpoints, state store) resolves the
        # scheme separately from FileSystem
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "cosmoz.localfs.NioLocalFs")
    )
    # Durable-checkpoint mode (the cluster deployment shape): every
    # iterative-loop superstep checkpoints to reliable storage instead
    # of executor-local blocks (plans/catalog_ext._iter_checkpoint).
    # Env-settable so the unchanged check_all/bench entrypoints can be
    # exercised end-to-end in the deployed configuration:
    #   SPARK_GRAFT_CHECKPOINT_DIR=/path python tools/check_all.py ...
    # caller-specific overrides (e.g. the scale sweep enables the UI
    # so per-run shuffle/spill bytes can be read off the REST API)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        builder = builder.config("spark.cosmoz.checkpoint.dir", ckdir).config(
            # GC-driven cleanup of no-longer-referenced snapshots; see
            # _iter_checkpoint's docstring
            "spark.cleaner.referenceTracking.cleanCheckpoints",
            "true",
        )
    return builder.getOrCreate()


def harden_session(spark: SparkSession) -> SparkSession:
    """Apply ``_runtime_confs`` to an externally-created session.

    The correctness driver builds its own SparkSession; these confs
    are all runtime-settable and required for deterministic,
    oracle-comparable results. ``build_session``'s static confs cannot
    reach a live session: an externally built one keeps Spark's
    100-entry codegen cache (so a warm process recompiles the level
    chain's classes) and PySpark's per-Column call-site capture.
    """
    for key, value in _runtime_confs():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this session; loaders have fallbacks
    return spark
