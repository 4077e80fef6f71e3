"""SparkSession construction & session hardening.

The engine is designed for a large multi-executor cluster; locally we
run ``local[N]``. Every knob below is motivated by the 100 TB target:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting (hot ``site_no`` partitions — the reference hand-sharded
  per site via one OS process per site,
  /root/reference/pipeline/cosmoz_process_levels.py:739-744).
- ``spark.sql.session.timeZone=UTC``: the reference computes entirely
  in UTC (/root/reference/pipeline/cosmoz_process_levels.py:44).
- nanos-as-long: the driver test parquet stores TIMESTAMP(NANOS)
  which Spark's vectorized reader rejects; we read the raw int64 and
  convert explicitly (sources/tables.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "cosmoz-data-pipeline-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# --- spill-aware shuffle sizing -------------------------------------
# ``spark.sql.shuffle.partitions`` is the one scale knob AQE cannot
# turn for us: adaptive execution only COALESCES below the configured
# number (and splits skewed joins), it never raises it. A count pinned
# at core count therefore makes per-task sort volume grow linearly
# with the corpus — measured at the x1000 decade (SHUFFLE_PARTS_AB
# .json, interleaved in-session A/B): the flagship level pipeline ran
# 159-181 s with 8.8 GiB of sort spill at 32 partitions vs 97-101 s
# with ZERO spill at 128/256; n-gram Jaccard 104 s with 51 GiB of
# spill vs 85-90 s with zero. So the engine sizes the configured
# ceiling from the bytes it has actually loaded — one target-sized
# input slice per partition — and lets AQE coalesce small stages back
# down. Scans are unaffected (split by files.maxPartitionBytes); this
# governs post-shuffle reducer counts only.
#
# 4 MiB of on-disk parquet per reducer ≈ 32-400 MiB of in-flight
# shuffle once decompressed and fanned out (the measured level4
# expansion is ~8x; dedup shingle stages ~60x) — sized so the WORST
# expansion's per-reducer sort fits a ~1 GiB task execution-memory
# budget without spilling. The asymmetry makes the target deliberately
# small: undersizing spills (the measured 51 GiB), oversizing costs
# only scheduling because AQE coalesces modest stages back down. The
# cap bounds scheduler overhead in local mode; a real cluster raises
# it with the executor fleet (it is an upper bound for AQE, so
# over-provisioning costs only scheduling).
SHUFFLE_TARGET_INPUT_BYTES = 4 << 20
SHUFFLE_PARTITIONS_CAP = 4096

# memo: path -> (mtime-token, bytes). The token keys *validation*,
# not the dict — a long-lived session over a growing table (the
# incremental writer, a regenerated scale corpus) overwrites the
# entry on mtime change instead of accumulating one stale entry per
# observed mtime, so the memo is bounded by the number of distinct
# paths ever loaded.
_dir_bytes_memo: dict[str, tuple[object, int]] = {}
_loaded_bytes_by_dir: dict[str, dict[str, int]] = {}
_warned_unsizable: set[str] = set()


def _local_mtime_token(path: str) -> int | None:
    """Top-level mtime (ns) of a local path, or None if not statable.

    Appending/overwriting files in a directory bumps the directory's
    own mtime, which is exactly the invalidation signal we need; file
    content rewrites bump the file's. Nested-partition appends touch
    the leaf dir, not the root — acceptable staleness for a sizing
    heuristic whose failure mode is a few extra (AQE-coalesced)
    partitions, and the incremental writer appends at the top level.
    """
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


def _local_walk_bytes(path: str) -> int:
    total = 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def _hadoop_stat(spark: SparkSession, path: str):
    """(fs, hpath, mtime_ms) of ``path`` via the JVM Hadoop
    FileSystem, or None if the scheme is unresolvable / the path does
    not exist. One cheap getFileStatus RPC — the memo validator.

    This is the cluster-real sizing path: ``os.walk`` on an
    ``hdfs://`` or ``s3a://`` URI silently yields nothing, which would
    collapse the partition ceiling to the session floor — the exact
    32-partition shape SHUFFLE_PARTS_AB.json measured at 1.6x wall and
    8.8 GiB of spill. ``Path.getFileSystem`` resolves any scheme the
    deployment's Hadoop conf knows (file:, hdfs:, s3a:, gs:, abfs:).
    """
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        return fs, hpath, int(fs.getFileStatus(hpath).getModificationTime())
    except Exception:
        return None


def _path_bytes(path: str, spark: SparkSession | None = None) -> int:
    mtime = _local_mtime_token(path)
    if mtime is not None:  # local fast path: stat + walk, no JVM call
        hit = _dir_bytes_memo.get(path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        total = _local_walk_bytes(path)
        _dir_bytes_memo[path] = (mtime, total)
        return total
    # not a local filesystem path (scheme URI, or local-but-vanished):
    # size through the Hadoop FileSystem the session actually reads
    # with. getContentSummary is NOT a cheap call at deployment scale
    # (recursive NameNode traversal on HDFS; full client-side prefix
    # listing, O(objects), on S3A/GCS) — so it runs only on memo
    # miss/staleness, validated by one getFileStatus RPC per load.
    # Directory mtime moves when direct children change, not on
    # nested-partition appends — the same acceptable-staleness caveat
    # as the local token, and the incremental writer appends at the
    # top level.
    if spark is not None:
        st = _hadoop_stat(spark, path)
        if st is not None:
            fs, hpath, hmtime = st
            token = ("hadoop", hmtime)
            hit = _dir_bytes_memo.get(path)
            if hit is not None and hit[0] == token:
                return hit[1]
            try:
                total = int(fs.getContentSummary(hpath).getLength())
            except Exception:
                total = None
            if total is not None:
                _dir_bytes_memo[path] = (token, total)
                return total
    if path not in _warned_unsizable:
        _warned_unsizable.add(path)
        import sys

        print(
            f"cosmoz: WARNING could not size {path!r} (no local stat, "
            "Hadoop FS unresolvable) - shuffle-partition ceiling stays "
            "at the session floor; large corpora may spill",
            file=sys.stderr,
        )
    return 0


def scale_shuffle_partitions(spark: SparkSession, sf_dir: str, path: str) -> int:
    """Record ``path`` (one table of corpus ``sf_dir``) as loaded and
    size ``spark.sql.shuffle.partitions`` to the corpus bytes seen so
    far: max(core floor, total_bytes / SHUFFLE_TARGET_INPUT_BYTES),
    capped. Monotone per corpus dir — a later small-dim load never
    shrinks the count a fact table established — and re-derived per
    dir, so stepping from a x1000 corpus back to a test SF returns to
    the floor. Runtime-settable, so it also hardens externally-built
    sessions (the correctness driver's) exactly like harden_session.
    """
    seen = _loaded_bytes_by_dir.setdefault(sf_dir, {})
    seen[path] = _path_bytes(path, spark)
    # the floor is the session's own configured baseline (tests run 8,
    # build_session defaults to core count, the external driver
    # session has neither and gets the core-count default)
    try:
        floor = int(spark.conf.get("spark.cosmoz.shuffle.floor"))
    except Exception:
        floor = max(default_parallelism(), 8)
    # the cap bounds only the byte-derived term: a caller whose
    # explicit floor exceeds the local-mode cap (a real cluster fleet)
    # must never be clamped below its own choice
    want = max(
        floor,
        min(
            SHUFFLE_PARTITIONS_CAP,
            sum(seen.values()) // SHUFFLE_TARGET_INPUT_BYTES,
        ),
    )
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) != want:
            spark.conf.set("spark.sql.shuffle.partitions", str(want))
    except Exception:
        pass  # immutable in this session (never on stock Spark)
    return want


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
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # baseline for scale_shuffle_partitions: never size below the
        # caller's explicit choice, always return to it on small dirs
        .config("spark.cosmoz.shuffle.floor", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep AQE from coalescing small-benchmark shuffles below the
        # key parallelism (8-22 sites) — at production scale partitions
        # far exceed these floors, so the settings are inert there
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4mb")
        # split small file scans into >= core-count partitions (a
        # scan-time split, NOT a shuffle): a 1-file dimension read
        # otherwise serializes fan-out stages (explode) behind 1 task.
        # At production scale input splits >> cores and this is inert.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
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
    """Apply runtime-settable confs to an externally-created session.

    The correctness driver builds its own SparkSession; these confs
    are all runtime-settable and required for deterministic,
    oracle-comparable results.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb"),
        ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4mb"),
        ("spark.sql.files.minPartitionNum", str(default_parallelism())),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this session; loaders have fallbacks
    return spark
