"""Interleaved A/B of two arms on one host, with output identity pinned.

    python tools/ab.py SHAPES CORPUS --work DIR --out FILE [--repeats N]
    python tools/ab.py ref --work DIR --out FILE [--base REF] [--passes 3] [--repeats 1]

SHAPES names two shapes of this tree (a key of ``ARMS``): ``level1``
and ``level4`` run the window shape (A) against the scan-local shape
(B) on one raw sink built under ``--work``; ``checkpoint`` runs
``x_dedup_components`` with local (A) against durable (B)
checkpoints. Both arms are first fingerprinted (row count and
``bit_xor(xxhash64(*))``); a mismatch raises ``IdentityError``. Then
``--repeats`` pairs run cold, each arm built and forced by a noop
write inside its span, and the first arm alternates from pair to pair.
Per-run tasks and run bytes come from the event log, and each run's
``codegen_compiles`` from the JVM's codegen metrics (``probe.py``).
CORPUS is as in ``probe.py``.

``ref`` times the registry with the code at a git ref (A, checked out
as a worktree under ``--work``) against the working tree (B): one
persistent Spark worker per tree, one cold query per request, A and B
back to back per query, the order flipped on odd passes, min over
passes. Raw cross-round ``BENCH_r*.json`` files drift with host state;
cite the ``BENCH_AB_r*.json`` this writes for code comparisons. The
default base is the latest ``round N:`` commit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import Tracer  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tools.probe import (  # noqa: E402
    Counters,
    codegen_compiles,
    cold,
    corpus,
    noop,
    raw_sink,
    session,
    write_json,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF_DIR = "/root/testdata/sf0.1"  # bench.py's corpus
CKPT_CONF = "spark.cosmoz.checkpoint.dir"


class IdentityError(RuntimeError):
    """The two arms of an A/B returned different rows."""


def fingerprint(df) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))").alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


# --- shapes of this tree ------------------------------------------------


def _level_arms(spark, sf_dir: str, work: str, level: str) -> dict:
    from cosmoz_data_pipeline_spark.domain import levels
    from cosmoz_data_pipeline_spark.domain.synth import load_domain
    from cosmoz_data_pipeline_spark.profile import bucketed_auto

    sink = raw_sink(spark, sf_dir, work)
    d = load_domain(spark, sf_dir)
    tail = (d["intensity"], d["silo_data"], d["all_stations"])

    def window():
        raw = spark.read.parquet(sink)
        if level == "level1":
            return levels.raw_to_level1(raw, big=bucketed_auto(raw))
        return levels.run_pipeline(raw, *tail)["level4"]

    def scan_local():
        if level == "level1":
            return levels.raw_to_level1_scan_local(spark, sink)
        return levels.run_pipeline(sink, *tail)["level4"]

    return {"A": window, "B": scan_local}


def _checkpoint_arms(spark, sf_dir: str, work: str) -> dict:
    from cosmoz_data_pipeline_spark.plans import REGISTRY

    ckdir = os.path.join(work, "ckpt")

    def arm(durable: bool):
        def run():
            shutil.rmtree(ckdir, ignore_errors=True)
            if durable:
                spark.conf.set(CKPT_CONF, ckdir)
            else:
                spark.conf.unset(CKPT_CONF)
            return REGISTRY["x_dedup_components"].run(spark, sf_dir)

        return run

    return {"A": arm(False), "B": arm(True)}


# shapes -> (arm labels, builder(spark, sf_dir, work) -> {"A": fn, "B": fn})
ARMS = {
    "level1": ({"A": "window", "B": "scan_local"}, lambda *a: _level_arms(*a, "level1")),
    "level4": ({"A": "window", "B": "scan_local"}, lambda *a: _level_arms(*a, "level4")),
    "checkpoint": ({"A": "local", "B": "durable"}, _checkpoint_arms),
}


def interleave(spark, arms: dict, repeats: int) -> tuple[dict, list[dict]]:
    """Identity of both arms, then ``repeats`` cold pairs: per pair,
    each arm's timed span and classes compiled, the first arm
    alternating."""
    ident = {}
    for k, fn in arms.items():
        cold(spark)
        ident[k] = fingerprint(fn())
    cold(spark)
    if ident["A"] != ident["B"]:
        raise IdentityError(f"arms differ: A (rows, hash) {ident['A']} != B {ident['B']}")
    tr, pairs = Tracer("ab"), []
    for i in range(repeats):
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        pair = {"first": order[0]}
        for k in order:
            compiles = codegen_compiles(spark)
            with tr.span(k):
                noop(arms[k]())
            pair[k] = tr.spans[-1]
            pair[f"{k}_compiles"] = codegen_compiles(spark) - compiles
            cold(spark)
        pairs.append(pair)
        print(f"pair {i + 1}/{repeats}: A {pair['A'].dur:.2f}s  B {pair['B'].dur:.2f}s", flush=True)
    return ident, pairs


def summarize(ident: dict, pairs: list[dict], log: Counters) -> dict:
    runs = [
        {
            "first": p["first"],
            **{
                k: {
                    "t": round(p[k].dur, 3),
                    "codegen_compiles": p[f"{k}_compiles"],
                    **log.over([p[k]]),
                }
                for k in "AB"
            },
        }
        for p in pairs
    ]
    t = {k: [r[k]["t"] for r in runs] for k in "AB"}
    return {
        "identity": {"A": ident["A"], "B": ident["B"], "match": ident["A"] == ident["B"]},
        "runs": runs,
        "best_A": min(t["A"]),
        "best_B": min(t["B"]),
        "median_A": statistics.median(t["A"]),
        "median_B": statistics.median(t["B"]),
        "speedup_A_over_B": round(min(t["A"]) / min(t["B"]), 3),
        "pairwise_B_wins": sum(b < a for a, b in zip(t["A"], t["B"])),
    }


def shapes(args) -> dict:
    labels, build = ARMS[args.mode]
    spark, log_dir = session(f"ab-{args.mode}", args.work)
    cores = spark.sparkContext.defaultParallelism
    try:
        sf_dir = corpus(spark, args.corpus)
        ident, pairs = interleave(spark, build(spark, sf_dir, args.work), args.repeats)
        spark.conf.unset(CKPT_CONF)
    finally:
        spark.stop()
    return {
        "metric": f"{args.mode}_ab",
        "unit": "sec",
        "arms": labels,
        "corpus": sf_dir,
        "cores": cores,
        "policy": f"identity first, then {args.repeats} interleaved cold pairs, "
        "first arm alternating; each arm built and noop-forced inside its "
        "span; tasks and run_bytes from the event log; codegen_compiles "
        "per run from the JVM's codegen metrics",
        **summarize(ident, pairs, Counters(log_dir)),
    }


# --- a git ref against the working tree -------------------------------------

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists
from cosmoz_data_pipeline_spark.plans import catalog_ext
from cosmoz_data_pipeline_spark.session import build_session

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]
spark = build_session(app_name="cosmoz-bench-ab")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(f"{SF_DIR}/nation.parquet").count()  # JVM warmup

def cold():
    release_persists()
    spark.catalog.clearCache()
    catalog_ext._IVF_CENTROIDS.clear()
    catalog_ext.clear_counts()

IVF_WARM = {"x_ann_ivf_topk_search"}

print(json.dumps({"ready": sorted(REGISTRY)}), flush=True)
for line in sys.stdin:
    name = line.strip()
    if not name or name == "__exit__":
        break
    try:
        q = REGISTRY[name]
        cold()
        if name in IVF_WARM:
            REGISTRY["x_ann_ivf_topk_train"].run(spark, SF_DIR).count()
            release_persists()
            spark.catalog.clearCache()
        t0 = time.time()
        q.run(spark, SF_DIR).count()
        print(json.dumps({"name": name, "sec": round(time.time() - t0, 3)}),
              flush=True)
    except Exception as exc:  # report, keep serving
        print(json.dumps({"name": name, "err": str(exc)[:500]}), flush=True)
spark.stop()
"""


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


class Worker:
    """One Spark session in ``tree`` serving timed queries over stdin.
    The worker's ``cold`` is inline: it runs against the base tree's
    package, which need not have ``tools/probe.py``."""

    def __init__(self, tree: str, sf_dir: str) -> None:
        env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir}
        self.proc = subprocess.Popen(
            [sys.executable, "-c", WORKER],
            cwd=tree,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            env=env,
        )
        self.registry = self._read()["ready"]

    def _read(self) -> dict:
        while True:  # skip any non-JSON line a JVM prints on stdout
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("ab worker died")
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue

    def run(self, name: str) -> float | None:
        self.proc.stdin.write(name + "\n")
        self.proc.stdin.flush()
        msg = self._read()
        if "err" in msg:
            print(f"  ERR {name}: {msg['err']}", file=sys.stderr)
            return None
        return msg["sec"]

    def stop(self) -> None:
        try:
            self.proc.stdin.write("__exit__\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def _minima(repeats: list[dict], key: str, names: list[str]) -> dict:
    return {
        n: min(r[key][n] for r in repeats if n in r[key])
        for n in names
        if any(n in r[key] for r in repeats)
    }


def refs(args) -> dict:
    if args.base is None:
        base_ref = _git("log", "--grep=^round [0-9]*:", "-n1", "--format=%H")
        if not base_ref:
            raise SystemExit("no 'round N:' commit found; pass --base explicitly")
    else:
        base_ref = _git("rev-parse", args.base)
    wt = os.path.join(os.path.abspath(args.work), "base")
    subprocess.run(["git", "worktree", "remove", "--force", wt], cwd=REPO, capture_output=True)
    subprocess.run(
        ["git", "worktree", "add", "--force", "--detach", wt, base_ref],
        cwd=REPO, check=True, capture_output=True,
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    # the state being measured, taken before the run
    dirty_files = [ln[2:].lstrip() for ln in _git("status", "--porcelain").splitlines() if ln]
    try:
        print(f"A = base {base_ref[:10]}, B = working tree; sf_dir={sf_dir}", file=sys.stderr)
        wa, wb = Worker(wt, sf_dir), Worker(REPO, sf_dir)
        names = sorted(set(wa.registry) & set(wb.registry))
        skipped = sorted(set(wa.registry) ^ set(wb.registry))
        if skipped:
            print(f"not in both registries, skipped: {skipped}", file=sys.stderr)
        repeats: list[dict] = []
        for rep in range(args.repeats):
            ra: dict[str, float] = {}
            rb: dict[str, float] = {}
            for p in range(args.passes):
                for name in names:
                    pair = [(wa, ra), (wb, rb)] if p % 2 == 0 else [(wb, rb), (wa, ra)]
                    for w, acc in pair:
                        sec = w.run(name)
                        if sec is not None:
                            acc[name] = min(acc.get(name, sec), sec)
                print(f"repeat {rep + 1}/{args.repeats} pass {p + 1}/{args.passes} done "
                      f"(A={sum(ra.values()):.1f}s B={sum(rb.values()):.1f}s)", file=sys.stderr)
            repeats.append({
                "base_total": round(sum(ra.values()), 3),
                "current_total": round(sum(rb.values()), 3),
                "base_queries": ra,
                "current_queries": rb,
            })
        wa.stop()
        wb.stop()
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt], cwd=REPO, capture_output=True)
    ta, tb = _minima(repeats, "base_queries", names), _minima(repeats, "current_queries", names)
    return {
        "metric": "bench_ab_interleaved",
        "unit": "sec",
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "generated_unix": int(time.time()),
        "passes": args.passes,
        "repeats": repeats,
        "base": {"ref": base_ref, "value": round(sum(ta.values()), 3), "queries": ta},
        "current": {
            "ref": _git("rev-parse", "HEAD"),
            "dirty_files": dirty_files,
            "value": round(sum(tb.values()), 3),
            "queries": tb,
        },
        "policy": "interleaved same-host A/B: per query per pass, base and "
        "current run back-to-back (order flipped on odd passes); headline "
        "base/current = min over all passes and repeats; 'repeats' holds "
        "each full protocol repeat's own minima so the noise floor is "
        "auditable; cold cache per run per bench.py (persists, SQL cache, "
        "index/corpus memos cleared; x_ann_ivf_topk_search warm-index). "
        "Raw cross-round BENCH_r{N}.json files drift ~30% with host state "
        "and must not be compared; cite this artifact for perf claims.",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=[*ARMS, "ref"])
    ap.add_argument("corpus", nargs="?", help="DIR or DIR:MULT (shapes only)")
    ap.add_argument("--work", required=True, help="sinks, checkpoints, event logs, worktree")
    ap.add_argument("--out", required=True, help="artifact JSON path")
    ap.add_argument("--repeats", type=int, default=None)
    ap.add_argument("--base", default=None, help="git ref of arm A (ref only)")
    ap.add_argument("--passes", type=int, default=3, help="ref only")
    args = ap.parse_args()
    if args.mode == "ref":
        args.repeats = args.repeats or 1
        write_json(args.out, refs(args))
        return 0
    if args.corpus is None:
        ap.error(f"{args.mode} needs a CORPUS")
    args.repeats = args.repeats or 3
    write_json(args.out, shapes(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
