"""Cold cumulative-prefix timings of one pipeline, with per-prefix
engine totals read from Spark's event log.

    python tools/probe.py TARGET CORPUS --work DIR --out FILE [--runs N]

TARGET is a key of ``STEPS``. CORPUS is a directory, read in place, or
``DIR:MULT``, which builds (or reuses) a ``tools/scale_corpus.py``
corpus of that multiplier in DIR.

Prefix k runs steps 1..k after ``cold()``, ``--runs`` times back to
back. A step returns a DataFrame or ``None``. A DataFrame is built
outside the timer (its build time, with any job the builder runs, such
as corpus stats, is reported as ``build_s``) and, from the last step,
forced through a noop write inside it. ``None`` means the step has
already run (a write, a stream, a builder with eager work), so its
whole call is timed. ``t`` is the best run; ``tasks``, ``stages`` and
``run_bytes`` are the event-log totals over that run's timed spans.
``codegen_compiles`` lists, per run, the classes Spark's code generator
compiled during it.
Stage cost is the difference of adjacent prefixes, which
over-attributes work Spark fuses into a shared scan to the earlier
step.

Sinks, stream state, checkpoints and the event log live under
``--work``; the artifact is written only to ``--out``. ``ab.py`` and
``scale_bench.py`` share ``cold``, ``session``, ``Counters`` and the
span recorder (perfbench's ``Tracer``).
"""

from __future__ import annotations

import argparse
import collections
import functools
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import EventLog, Tracer  # noqa: E402

from cosmoz_data_pipeline_spark import profile  # noqa: E402
from cosmoz_data_pipeline_spark.cli import LEVELS  # noqa: E402
from cosmoz_data_pipeline_spark.domain import levels  # noqa: E402
from cosmoz_data_pipeline_spark.domain.synth import load_domain  # noqa: E402
from cosmoz_data_pipeline_spark.operators import scan_local  # noqa: E402
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext as CE  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from cosmoz_data_pipeline_spark.sources.tables import load_table  # noqa: E402
from cosmoz_data_pipeline_spark.streaming import incremental  # noqa: E402

SINK_FILES = 256


# --- shared harness -----------------------------------------------------


def cold(spark) -> None:
    """Drop what a fresh process would not have: scoped persists, the
    SQL cache, the corpus-stat and IVF caches. The JVM GC lets the
    ContextCleaner reclaim dead shuffle files between runs."""
    release_persists()
    spark.catalog.clearCache()
    CE._IVF_CENTROIDS.clear()
    CE.clear_counts()
    spark.sparkContext._jvm.System.gc()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def session(app: str, work: str):
    """A session logging its events to a fresh directory under
    ``work``; read it with ``Counters(log_dir)`` after ``spark.stop()``."""
    os.makedirs(work, exist_ok=True)
    log_dir = tempfile.mkdtemp(prefix="eventlog-", dir=work)
    # x1000 corpora need a large single JVM: the default 24g heap ran
    # out of execution memory in the 680M-row MinHash aggregation
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    spark = build_session(
        app_name=app,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, log_dir


class Counters(EventLog):
    """``EventLog`` plus the bytes the artifacts record that it does
    not total: shuffle read, and memory and disk spill apart."""

    def __init__(self, log_dir: str):
        self.split: dict[int, collections.Counter] = {}
        super().__init__(log_dir)

    def _event(self, e: dict) -> None:
        super()._event(e)
        if e.get("Event") == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            c = self.split.setdefault(e["Stage ID"], collections.Counter())
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            c["mem_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
            c["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)

    def over(self, spans) -> dict:
        """Task and stage counts and run bytes of the jobs submitted
        inside ``spans``."""
        jobs = [j for s in spans for j in self.jobs_in(s.start, s.end)]
        tot, n_stages = self.totals(jobs)
        split = collections.Counter()
        for sid in {sid for j in jobs for sid in j.stages}:
            split.update(self.split.get(sid, {}))
        return {
            "tasks": tot.tasks,
            "stages": n_stages,
            "run_bytes": {
                "shuffle_write_bytes": tot.shuffle_bytes,
                "shuffle_read_bytes": split["shuffle_read_bytes"],
                "mem_spill_bytes": split["mem_spill_bytes"],
                "disk_spill_bytes": split["disk_spill_bytes"],
            },
        }


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far
    (the count of ``CodegenMetrics``' compile-time histogram). Its
    difference across a run is the run's compile churn: classes the
    codegen cache did not hold."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def corpus(spark, arg: str) -> str:
    """``DIR`` as given, or ``DIR:MULT`` built (or reused) in DIR."""
    m = re.fullmatch(r"(.+):(\d+)", arg)
    if not m:
        return arg
    from tools.scale_corpus import ensure_corpus

    ensure_corpus(spark, m[1], int(m[2]))
    return m[1]


def raw_sink(spark, sf_dir: str, work: str) -> str:
    """``sf_dir``'s raw_values as a layout-contracted sink under
    ``work``, rewritten only when the corpus or the layout changed."""
    path = os.path.join(work, "rawsink")
    marker = os.path.join(path, "_sink_meta.json")
    want = {
        "corpus": hashlib.md5(repr(profile.listing(spark, sf_dir)).encode()).hexdigest(),
        "n_files": SINK_FILES,
        "rowgroup_bytes": scan_local.TILE_ROWGROUP_BYTES,
    }
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return path
    scan_local.write_time_tiled(load_domain(spark, sf_dir)["raw_values"], path, SINK_FILES)
    with open(marker, "w") as f:
        json.dump(want, f)
    return path


def write_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
        f.write("\n")
    print(f"wrote {path}", flush=True)


# --- targets --------------------------------------------------------------


class Run:
    """What one prefix run's steps share: the corpus, a fresh state
    directory, and builders cached for the run."""

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.state = os.path.join(work, "state")
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self.state)

    @functools.cached_property
    def sink(self) -> str:
        return raw_sink(self.spark, self.sf_dir, self.work)

    @functools.cached_property
    def chain(self) -> dict:
        d = load_domain(self.spark, self.sf_dir)
        return levels.run_pipeline(
            d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
        )

    def query(self, name: str):
        return REGISTRY[name].run(self.spark, self.sf_dir)

    def docs(self):
        return CE._docs_aug(self.spark, self.sf_dir)

    def simhash(self, build):
        sigs = CE._simhash_sigs_kernel(self.docs())
        return build(sigs, CE._docs_stats(self.spark, self.sf_dir).aug_n)

    def neardup(self, screened: bool):
        stats = CE._emb_stats(self.spark, self.sf_dir)
        vecs, cand = CE._neardup_cands(self.spark, self.sf_dir, stats)
        head = profile.prescreen_head(stats.aug_n)
        return CE._neardup_prescreen(vecs, cand, head) if screened and head else cand

    def st1_raw(self):
        return load_domain(self.spark, self.sf_dir)["raw_values"].select(
            "time", "site_no", "count", "battery"
        )

    def st1_write(self, since: str) -> None:
        incremental.incremental_overwrite(
            self.st1_raw(), os.path.join(self.state, "sink"), since=since
        )

    def st6_stream(self) -> None:
        src = os.path.join(self.state, "src")
        incremental.stream_dedup_to_sink(
            self.spark,
            source_dir=src,
            sink_dir=os.path.join(self.state, "sink"),
            checkpoint_dir=os.path.join(self.state, "ckpt"),
            schema=self.spark.read.parquet(src).schema,
            dedup_cols=["user_id", "event_type"],
            time_col="ts",
        )

    def readback(self):
        return self.spark.read.parquet(os.path.join(self.state, "sink"))


# target -> ordered (step, callable(Run) -> DataFrame | None)
STEPS = {
    "level4": [(lv, lambda r, lv=lv: r.chain[lv]) for lv in LEVELS],
    # the scan-local build runs the layout check's boundary pass eagerly
    "level1": [
        ("scan", lambda r: r.spark.read.parquet(r.sink)),
        ("level1", lambda r: noop(levels.raw_to_level1_scan_local(r.spark, r.sink))),
    ],
    "minhash": [
        ("docs", lambda r: r.docs()),
        ("sigs", lambda r: CE._minhash_sigs_kernel(r.docs())),
        ("cands", lambda r: CE._minhash_band_cands(CE._minhash_sigs_kernel(r.docs()))),
        ("minhash", lambda r: r.query("x_dedup_minhash_lsh")),
        ("ngram", lambda r: r.query("x_dedup_ngram_jaccard")),
    ],
    "simhash": [
        ("docs", lambda r: r.docs()),
        ("sigs", lambda r: CE._simhash_sigs_kernel(r.docs())),
        ("bands", lambda r: r.simhash(CE._simhash_band_rows)),
        ("join", lambda r: r.simhash(CE._simhash_band_join)),
        ("cands", lambda r: r.simhash(CE._simhash_combo_cands)),
        ("pairs", lambda r: r.query("x_dedup_simhash_pairs")),
    ],
    "neardup": [
        ("vecs", lambda r: CE._emb_aug(r.spark, r.sf_dir)),
        ("cands", lambda r: r.neardup(screened=False)),
        ("screen", lambda r: r.neardup(screened=True)),
        ("neardup", lambda r: r.query("x_embed_cosine_neardup")),
    ],
    # the supersteps and the Lloyd loop run eagerly inside run()
    "components": [
        ("pairs", lambda r: r.query("x_dedup_simhash_pairs")),
        ("components", lambda r: noop(r.query("x_dedup_components"))),
    ],
    "ivf": [
        ("scan", lambda r: load_table(r.spark, r.sf_dir, "embeddings")),
        ("quantized", lambda r: CE._ivf_quantized(r.spark, r.sf_dir)),
        ("train", lambda r: noop(r.query("x_ann_ivf_topk_train"))),
    ],
    "st1": [
        ("raw", lambda r: r.st1_raw()),
        ("backfill", lambda r: r.st1_write("2021-01-01 00:00:00")),
        ("incr", lambda r: r.st1_write("2021-01-10 12:00:00")),
        ("readback", lambda r: r.readback()),
    ],
    "st6": [
        (
            "src",
            lambda r: load_table(r.spark, r.sf_dir, "events")
            .coalesce(1)
            .write.parquet(os.path.join(r.state, "src")),
        ),
        ("stream", lambda r: r.st6_stream()),
        ("readback", lambda r: r.readback().select("user_id", "event_type")),
    ],
}


def run_prefix(r: Run, tr: Tracer, steps) -> tuple[list, float, int]:
    """Run ``steps`` cold. Returns the spans that count toward the
    prefix time, the seconds spent building DataFrames and the classes
    compiled."""
    cold(r.spark)
    timed, build_s, compiles = [], 0.0, codegen_compiles(r.spark)
    for _name, fn in steps:
        with tr.span("call"):
            out = fn(r)
        if out is None:
            timed.append(tr.spans[-1])
        else:
            build_s += tr.spans[-1].dur
    if out is not None:
        with tr.span("force"):
            noop(out)
        timed.append(tr.spans[-1])
    return timed, build_s, codegen_compiles(r.spark) - compiles


def probe(spark, target: str, sf_dir: str, work: str, runs: int):
    """Per prefix, in order, ``runs`` back-to-back runs: each run's
    (timed spans, build seconds, classes compiled)."""
    steps, tr = STEPS[target], Tracer(target)
    got = {}
    for k, (name, _) in enumerate(steps, 1):
        got[name] = [run_prefix(Run(spark, sf_dir, work), tr, steps[:k]) for _ in range(runs)]
        ts = [f"{sum(s.dur for s in spans):.2f}s" for spans, _, _ in got[name]]
        print(f"{name:12s} {' '.join(ts)}", flush=True)
    cold(spark)
    return got


def report(got: dict, log: Counters) -> dict:
    out, prev = {}, 0.0
    for name, rs in got.items():
        ts = [round(sum(s.dur for s in spans), 3) for spans, _, _ in rs]
        best = min(range(len(rs)), key=ts.__getitem__)
        out[name] = {
            "t": ts[best],
            "t_runs": ts,
            "marginal_t": round(ts[best] - prev, 3),
            "build_s": round(rs[best][1], 3),
            "codegen_compiles": [c for _, _, c in rs],
            **log.over(rs[best][0]),
        }
        prev = ts[best]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("target", choices=sorted(STEPS))
    ap.add_argument("corpus", help="DIR (read in place) or DIR:MULT (built in DIR)")
    ap.add_argument("--work", required=True, help="sinks, state and event logs")
    ap.add_argument("--out", required=True, help="artifact JSON path")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark, log_dir = session(f"probe-{args.target}", args.work)
    cores = spark.sparkContext.defaultParallelism
    try:
        sf_dir = corpus(spark, args.corpus)
        got = probe(spark, args.target, sf_dir, args.work, args.runs)
    finally:
        spark.stop()
    write_json(
        args.out,
        {
            "metric": f"{args.target}_prefixes",
            "unit": "sec",
            "corpus": sf_dir,
            "cores": cores,
            "runs": args.runs,
            "policy": "cold cumulative prefixes; t = best run's timed spans "
            "(DataFrames forced by a noop write, build outside the timer, "
            "eager steps timed whole); tasks, stages and run_bytes from the "
            "event log over that run's timed spans; codegen_compiles per run",
            "prefixes": report(got, Counters(log_dir)),
        },
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
