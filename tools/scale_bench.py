"""Multi-decade scaling evidence (VERDICT r3 task 8; extended r5 to
every shuffle-heavy query per VERDICT r4 tasks 3-4; extended r7 per
VERDICT r6 tasks 1-3): time the most expensive registry queries on
x1 / x10 / x100 corpora produced by the SAME generator
(tools/scale_corpus.py) and report the per-decade scaling exponent
alpha where t ~ N^alpha (alpha = log10(t_next / t_prev) per 10x step).

Candidate-then-verify joins and the level pipeline should be
near-linear (alpha <= ~1); an alpha near 2 would expose a hidden
all-pairs join that small-SF correctness runs can't see. The second
decade (x10 -> x100) is the informative one: at x1 -> x10 fixed
per-job overhead still dominates wall time on local[32].

Every documents/embeddings-only query additionally runs a THIRD
decade (x1000: ~2M vectors / 5M docs) — the first scale where N can
exceed a fixed blocking keyspace (the regime that exposed the r5
SimHash 16-bit band saturation). Round 7 extends the x1000 decade to
the flagship level pipeline (level4) and the st1 write path: windows
over event-time are where a dense sub-hourly burst or a hot site
first bites, and the extension pipeline should not be the only code
with third-decade evidence.

Per timed run, shuffle-write / shuffle-read / memory-spill /
disk-spill bytes are the event-log totals of the jobs submitted inside
the best run's span (tools/probe.py ``Counters``), so "the x1000 tax
is single-box shuffle spill, not plan superlinearity" is a recorded
measurement. Per decade, intermediate-stage counts (candidate pairs,
shingle rows, match rows) come from the queries' own builders
(catalog_ext.STAGE_PROBES, outside the timer). Derivable stages are
not re-counted: x_dedup_minhash_lsh's candidates are its output rows,
x_dedup_ngram_jaccard's candidates equal minhash's rows, and
x_dedup_components' edges are 2x x_dedup_simhash_pairs' rows.

st1_write_path times the incremental-overwrite write stage with the
day grid of the x1 corpus at every scale (rows per (site, day)
partition grow 10x per decade; the partition COUNT stays ~1.4k).
The registry st1 query itself extends the TIME SPAN with the corpus
(one 20-min grid row per event), so timing it raw at x100 would
commit ~174k partition directories and measure filesystem metadata
throughput, not the write path — the same degenerate-workload trap as
the r4 fixed-vocabulary corpus. Scaling rows-per-partition is the
100 TB shape: a production day partition grows with ingest volume;
the calendar does not.

Corpus reuse is gated on the generator-version marker each corpus dir
carries (tools/scale_corpus.ensure_corpus) — existence alone let a
stale corpus feed published numbers after a generator change
(ADVICE r4). Tables added later (the x1000 events for level4) extend
an existing corpus in place; per-table generation is deterministic.

Each timing is cold (tools/probe.py ``cold``), min-of-2.

Usage: python tools/scale_bench.py [dir:mult ...] [query ...] --work DIR --out FILE
  default corpora: /tmp/cosmoz_scale_x1:1 /tmp/cosmoz_scale_x10:10
           /tmp/cosmoz_scale_x100:100   (+ x1000 for X1000_QUERIES)
Bare query names run a subset and MERGE into an existing --out. The
event log and the st1 sinks live under --work; run_bytes are filled in
when the session ends, so the per-query checkpoints of --out hold null
run_bytes until then.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import Tracer  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext  # noqa: E402
from cosmoz_data_pipeline_spark.sentinel import (  # noqa: E402
    SENTINEL_REF_SEC,
    io_sentinel_sec,
    io_window,
    sentinel_sec,
)
from tools.probe import Counters, cold, noop, session  # noqa: E402
from tools.scale_corpus import ALL_TABLES, BASE_EVENTS, ensure_corpus  # noqa: E402

QUERIES = (
    "level4",
    "level4_sort_floor",
    "x_dedup_simhash_pairs",
    "x_dedup_components",
    "x_dedup_minhash_lsh",
    "x_dedup_ngram_jaccard",
    "x_decontaminate",
    "x_embed_cosine_neardup",
    "x_ann_ivf_topk",
    "st1_write_path",
)

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x1", 1),
    ("/tmp/cosmoz_scale_x10", 10),
    ("/tmp/cosmoz_scale_x100", 100),
)

X1000 = ("/tmp/cosmoz_scale_x1000", 1000)
# Every swept query gets the third decade; the x1000 corpus carries
# all tables (events added in place by ensure_corpus's extension).
X1000_QUERIES = set(QUERIES)

_X1_GRID_SPAN_S = (BASE_EVENTS // 8) * 1200  # x1 raw_values span, seconds
_EPOCH_S = 1609459200  # 2021-01-01 00:00:00 UTC


def query_run(spark, name: str, sf_dir: str, work: str, span) -> int:
    """One registry query inside ``span``. run() stays inside it:
    iterative queries (components, IVF training) work eagerly in run().
    count() shares bench.py's policy (it prunes final projections a
    count does not need, e.g. level4's +-3h windows);
    SPARK_GRAFT_BENCH_FORCE=noop times full materialization and counts
    rows outside the span."""
    with span:
        df = REGISTRY[name].run(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_BENCH_FORCE") != "noop":
            return df.count()
        noop(df)
    return df.count()


def st1_write_run(spark, sf_dir: str, work: str, span) -> int:
    """The incremental-overwrite write path (backfill + later-window
    overwrite, the st1 shape) on a density-scaled raw table:
    timestamps wrap at the x1 grid span, so every scale writes the same
    ~1.4k (site, day) partitions with 10x more rows per decade. The
    span covers the two writes; the read-back count is validity only."""
    from cosmoz_data_pipeline_spark.domain.synth import load_domain
    from cosmoz_data_pipeline_spark.streaming.incremental import incremental_overwrite

    raw = load_domain(spark, sf_dir)["raw_values"].select(
        "time", "site_no", "count", "battery"
    )
    secs = F.col("time").cast("long")
    wrapped = raw.withColumn(
        "time",
        (F.lit(_EPOCH_S) + (secs - F.lit(_EPOCH_S)) % F.lit(_X1_GRID_SPAN_S)).cast(
            "timestamp"
        ),
    )
    sink = os.path.join(work, "st1_sink")
    shutil.rmtree(sink, ignore_errors=True)
    with span:
        incremental_overwrite(wrapped, sink, since="2021-01-01 00:00:00")
        incremental_overwrite(wrapped, sink, since="2021-01-10 12:00:00")
    rows = spark.read.parquet(sink).count()
    shutil.rmtree(sink, ignore_errors=True)
    return rows


def sort_floor_run(spark, sf_dir: str, work: str, span) -> int:
    """Bare shuffle+sort of level4's input at the same bytes: the
    O(N log N) floor under the level pipeline's dominant physical op
    (the site_no-partitioned time window over the wide raw_values
    table), so level4's residual over linear is level4_alpha -
    sort_floor_alpha, a number. Forced through a noop write (Catalyst
    drops a sort under a count), carrying every raw column."""
    from cosmoz_data_pipeline_spark.domain.synth import load_domain

    raw = load_domain(spark, sf_dir)["raw_values"]
    df = raw.repartition("site_no").sortWithinPartitions("site_no", "time")
    with span:
        noop(df)
    return raw.count()


def time_best(spark, tr: Tracer, run, sf_dir: str, work: str, runs: int = 2):
    """(best span, rows) over ``runs`` cold runs of ``run``."""
    best = None
    for _ in range(runs):
        cold(spark)
        rows = run(spark, sf_dir, work, tr.span("run"))
        if best is None or tr.spans[-1].dur < best[0].dur:
            best = (tr.spans[-1], rows)
    cold(spark)
    return best


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("args", nargs="*", help="dir:mult corpora and/or query names")
    ap.add_argument("--work", required=True, help="event log and st1 sinks")
    ap.add_argument("--out", required=True, help="artifact JSON path (merged)")
    opts = ap.parse_args()
    # dir:mult args define the sweep exactly (smoke runs on a tiny
    # corpus must not drag the x1000 decade in); bare query names run a
    # subset that merges into --out, so a long sweep can be resumed
    corpora_args = [a for a in opts.args if ":" in a]
    only = {a for a in opts.args if ":" not in a}
    corpora = (
        [(a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1])) for a in corpora_args]
        if corpora_args
        else list(DEFAULT_CORPORA)
    )
    with_x1000 = not corpora_args
    spark, log_dir = session("scale-bench", opts.work)
    cores = spark.sparkContext.defaultParallelism
    for d, mult in corpora:
        if ensure_corpus(spark, d, mult):
            print(f"(re)generated x{mult} corpus at {d}", file=sys.stderr)
    if with_x1000 and ensure_corpus(spark, *X1000, tables=ALL_TABLES):
        print(f"(re)generated/extended x1000 corpus at {X1000[0]}", file=sys.stderr)

    tr = Tracer("scale-bench")
    out: dict[str, dict] = {}
    spans: dict[str, dict] = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        q_corpora = list(corpora)
        if with_x1000 and name in X1000_QUERIES:
            q_corpora.append(X1000)
        run = {"st1_write_path": st1_write_run, "level4_sort_floor": sort_floor_run}.get(
            name, lambda s, d, w, sp, _n=name: query_run(s, _n, d, w, sp)
        )
        probe = catalog_ext.STAGE_PROBES.get(name)
        # a host-speed token captured just before each query's decades:
        # multi-hour sweeps drift within a session
        snt = sentinel_sec(spark, repeats=2)
        print(f"{name:28s} sentinel {snt:.2f}s (ref {SENTINEL_REF_SEC})", file=sys.stderr)
        times, rows, counts = [], [], []
        io_tokens: dict[str, dict[str, float]] = {}
        for d, mult in q_corpora:
            # multi-GB-shuffle decades swing ~2.4x on host I/O the CPU
            # sentinel cannot see: bracket each >=x1000 decade with an
            # io-sentinel pass so a slow-I/O window is told from a plan
            # change (such cells are graded on run_bytes)
            io_pre = io_sentinel_sec(spark, repeats=1) if mult >= 1000 else None
            span, r = time_best(spark, tr, run, d, opts.work)
            if io_pre is not None:
                io_post = io_sentinel_sec(spark, repeats=1)
                io_tokens[f"x{mult}"] = {
                    "pre": io_pre,
                    "post": io_post,
                    "window": io_window(io_pre, io_post),
                }
            times.append(round(span.dur, 3))
            rows.append(r)
            spans.setdefault(name, {})[f"x{mult}"] = span
            if probe is not None:
                cold(spark)
                counts.append(probe(spark, d))
                cold(spark)
            print(
                f"{name:28s} x{mult:<5d} {times[-1]:8.2f}s rows={r}"
                + (f" counts={counts[-1]}" if probe else ""),
                file=sys.stderr,
            )
        alphas = [
            round(
                math.log10(times[i + 1] / times[i])
                / math.log10(q_corpora[i + 1][1] / q_corpora[i][1]),
                3,
            )
            for i in range(len(q_corpora) - 1)
        ]
        entry = {
            "t_sec": {f"x{mult}": t for (_, mult), t in zip(q_corpora, times)},
            "sentinel_sec": snt,
            "t_sec_normalized": {
                f"x{mult}": round(t * SENTINEL_REF_SEC / snt, 2)
                for (_, mult), t in zip(q_corpora, times)
            },
            "rows": {f"x{mult}": r for (_, mult), r in zip(q_corpora, rows)},
            "scaling_exponent_per_decade": {
                f"x{q_corpora[i][1]}->x{q_corpora[i + 1][1]}": alphas[i]
                for i in range(len(alphas))
            },
            "run_bytes": {f"x{mult}": None for _, mult in q_corpora},
        }
        if io_tokens:
            entry["io_sentinel_sec"] = io_tokens
        if probe is not None:
            entry["stage_counts"] = {
                f"x{mult}": c for (_, mult), c in zip(q_corpora, counts)
            }
        out[name] = entry
        # checkpoint after every query: a crash late in the sweep (the
        # x1000 decades run last) must not lose the finished queries
        _write_artifact(out, opts.out, cores)

    spark.stop()
    log = Counters(log_dir)
    for name, per in spans.items():
        out[name]["run_bytes"] = {k: log.over([s])["run_bytes"] for k, s in per.items()}
    _write_artifact(out, opts.out, cores)


def _write_artifact(out: dict[str, dict], out_path: str, cores: int) -> None:
    extra_top = {}
    if os.path.exists(out_path):  # merge partial/resumed runs
        try:
            with open(out_path) as f:
                have = json.load(f)
            prev = have.get("queries", {})
            # carry forward narrative fields a subset-merge must not
            # silently drop (e.g. io_drift_note)
            extra_top = {
                k: v
                for k, v in have.items()
                if k.endswith("_note") or k.startswith("drift")
            }
        except (OSError, json.JSONDecodeError):
            prev = {}
        prev.update(out)
        out = {k: prev[k] for k in QUERIES if k in prev}
    result = {
        "metric": "multi_decade_scaling",
        "cores": cores,
        "sentinel_ref_sec": SENTINEL_REF_SEC,
        "sentinel_policy": "per-query min-of-2 of the frozen sentinel "
        "(cosmoz_data_pipeline_spark/sentinel.py), captured just before "
        "each query's decades; t_sec_normalized = t_sec * (ref/sentinel). "
        "Compare normalized columns across rounds/sessions; raw t_sec "
        "only within one capture.",
        "io_sentinel_policy": "each >=x1000 decade is bracketed by one "
        "pass of the frozen ~2.4 GB-shuffle io-sentinel (sentinel.py, "
        "separate from the main sentinel) recorded as io_sentinel_sec."
        "{pre,post,window}. It DETECTS the ~2.4x large-shuffle I/O "
        "bimodality (SCALE_r12 io_drift_note); it does not normalize. "
        "window is the r13-calibrated classifier (sentinel.io_window, "
        "healthy reference 4.30 s, drift threshold 7.0 s): 'drift' = "
        "both brackets slow, grade the cell on run_bytes (plan "
        "invariants, drift-free); 'suspect' = mode flipped mid-cell, "
        "treat raw seconds as an envelope; 'healthy' = citable.",
        "corpus": "tools/scale_corpus.py (same generator at every scale; "
        "marker-gated reuse; missing tables generated in place)",
        "policy": "min-of-2 cold (persists released, caches + index/corpus-"
        "metadata memos cleared); st1_write_path holds the partition grid at "
        "the x1 span so decades scale rows-per-partition, not directory count; "
        "run_bytes = event-log stage totals for the best run (shuffle write/"
        "read, memory/disk spill); stage_counts run the queries' own builders "
        "outside the timer. Derivable stages not re-counted: minhash "
        "candidates == its rows; ngram_jaccard candidates == minhash rows "
        "(same signatures+banding); components edges == 2x simhash rows",
        "queries": out,
        **extra_top,
    }
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f, indent=2)
    os.replace(tmp, out_path)  # atomic: a crash mid-write keeps the old file
    print(json.dumps(result))


if __name__ == "__main__":
    main()
