"""The fork-free ``file:`` filesystem (``cosmoz_data_pipeline_spark/jvm``).

Without ``libhadoop`` Hadoop's local filesystem starts a ``chmod``
process per created file or directory and a ``readlink`` process per
link-status check. One subprocess runs a ``build_session`` session with
logging shims for those commands (and ``ls``, ``stat``, ``chown``, the
other commands Hadoop's shell fallbacks use) first on ``PATH``: a
``cli.process_levels`` backfill of the sf0.001 corpus and two
``stream_dedup_to_sink`` ticks must start none of them, and their output
must look as stock Hadoop's does (modes, ``.crc`` sidecars). A
subprocess, because ``PATH`` and the jar on the class path are fixed
when the JVM starts.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pyspark
import pytest

from cosmoz_data_pipeline_spark.session import LOCALFS_JAR

REPO = Path(__file__).resolve().parents[1]
SHIMMED = ("chmod", "readlink", "ls", "stat", "chown")

RUN_SCRIPT = textwrap.dedent(
    """
    import datetime as dt, json, os, sys
    import pyarrow as pa, pyarrow.parquet as pq
    from cosmoz_data_pipeline_spark.cli import process_levels
    from cosmoz_data_pipeline_spark.session import build_session
    from cosmoz_data_pipeline_spark.streaming.incremental import stream_dedup_to_sink

    sf_dir, root, log = sys.argv[1:4]
    os.umask(0o022)
    spark = build_session(app_name="localfs-test", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    open(log, "w").close()  # the JVM's own start-up is not under test

    process_levels(spark, sf_dir, f"{root}/levels", "1970-01-01 00:00:00")
    src, sink, ckpt = (f"{root}/{d}" for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    t0 = dt.datetime(2021, 1, 1)
    for tick in range(2):
        times = [t0 + dt.timedelta(minutes=20 * (3 * tick + i)) for i in range(3)]
        rows = {"time": times + times[:1], "site_no": [1, 2, 3, 1]}
        pq.write_table(pa.table(rows), f"{src}/tick{tick}.parquet")
        schema = spark.read.parquet(f"{src}/tick{tick}.parquet").schema
        stream_dedup_to_sink(spark, src, sink, ckpt, schema, ["site_no", "time"])
    os.rename(log, log + ".run")

    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    Path = jvm.org.apache.hadoop.fs.Path
    sticky = f"{root}/sticky"
    os.makedirs(sticky)
    local.setPermission(
        Path(sticky), jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(0o1755)
    )
    for name in ("a", "b"):
        with open(f"{root}/{name}", "w") as f:
            f.write(name)
    print(json.dumps({
        "local_fs": local.getClass().getName(),
        "checkpoint_manager": manager.create(Path(ckpt), conf).getClass().getName(),
        "rename_onto_file": local.rename(Path(f"{root}/a"), Path(f"{root}/b")),
        "sticky_mode": os.stat(sticky).st_mode & 0o7777,
        "sink_rows": spark.read.parquet(sink).count(),
    }))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def shimmed_run(sf_dir, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("localfs")
    shims, root, log = tmp / "shims", tmp / "out", tmp / "forks.log"
    shims.mkdir()
    for cmd in SHIMMED:
        real = shutil.which(cmd)
        shim = shims / cmd
        shim.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {real} "$@"\n')
        shim.chmod(0o755)
    env = {**os.environ, "PATH": f"{shims}{os.pathsep}{os.environ['PATH']}"}
    p = subprocess.run(
        [sys.executable, "-c", RUN_SCRIPT, sf_dir, str(root), str(log)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    run_log = Path(f"{log}.run").read_text().splitlines()
    after = log.read_text().splitlines() if log.exists() else []
    return {
        "root": root,
        "forks": run_log,
        "after": after,
        **json.loads(p.stdout.strip().splitlines()[-1]),
    }


def test_backfill_and_ticks_start_no_process(shimmed_run):
    assert shimmed_run["forks"] == [], shimmed_run["forks"][:20]
    # the ticks really ran: 2 x 3 distinct keys, the re-sent row dropped
    assert shimmed_run["sink_rows"] == 6


def _walk(root: Path):
    """(dir, files) under the run's three outputs."""
    for name in ("levels", "sink", "ckpt"):
        for d, _, files in os.walk(root / name):
            yield Path(d), files


def test_modes_match_stock_hadoop(shimmed_run):
    wrong = []
    for d, files in _walk(shimmed_run["root"]):
        for p in [d, *(d / f for f in files)]:
            mode = p.stat().st_mode & 0o7777
            if mode != (0o755 if p.is_dir() else 0o644):
                wrong.append((str(p), oct(mode)))
    assert wrong == []


def test_every_file_has_its_crc_sidecar(shimmed_run):
    data = [d / f for d, files in _walk(shimmed_run["root"]) for f in files]
    data = [p for p in data if not p.name.endswith(".crc")]
    missing = [str(p) for p in data if not p.with_name(f".{p.name}.crc").exists()]
    assert data and missing == []


def test_local_fs_and_checkpoint_manager(shimmed_run):
    assert shimmed_run["local_fs"] == "cosmoz.localfs.NioLocalFileSystem"
    assert shimmed_run["checkpoint_manager"].endswith("FileContextBasedCheckpointFileManager")


def test_rename_never_replaces_a_file(shimmed_run):
    # the rule of Hive's ProxyLocalFileSystem, which stock Spark resolves
    # `file:` to
    assert shimmed_run["rename_onto_file"] is False
    assert (shimmed_run["root"] / "a").read_text() == "a"
    assert (shimmed_run["root"] / "b").read_text() == "b"


def test_sticky_bit_takes_the_stock_path(shimmed_run):
    assert shimmed_run["sticky_mode"] == 0o1755
    # the fallback is Hadoop's own shell chmod
    assert [line.split()[:2] for line in shimmed_run["after"]] == [["chmod", "1755"]]


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_jar_matches_its_sources(tmp_path):
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    api = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    jvm_dir = os.path.dirname(LOCALFS_JAR)
    sources = sorted(glob.glob(os.path.join(jvm_dir, "cosmoz", "localfs", "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-cp", api[0], "-d", str(tmp_path), *sources], check=True
    )
    built = {
        p.relative_to(tmp_path).as_posix(): p.read_bytes() for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        shipped = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert len(built) == 4 and shipped == built
