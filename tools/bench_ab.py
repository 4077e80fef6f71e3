"""Same-day, same-host, INTERLEAVED code A/B — the standing
cross-round bench protocol (round 6, VERDICT r5 task 1).

Raw BENCH_r{N}.json files are NOT comparable across rounds: the
builder measured ~30% drift re-running unchanged r4 code on the r5
host (README), and the r5 same-day A/B showed a further +/-20% noise
floor on sub-second queries even within a day. The only trustworthy
code comparison is both versions, same host, same hour, interleaved
so slow host drift cancels instead of accumulating into one side.

This tool automates it:

1. The BASE code is checked out into a throwaway git worktree under
   `.ab_worktree/` (ignored; removed afterwards). Default base ref =
   the latest `round N:` driver commit, i.e. the previous round's
   exact code state.
2. One persistent Spark worker subprocess per tree (a JVM restart per
   query would swamp the signal). Workers execute ONE timed query per
   request, cold-cache per the bench.py policy (persists + SQL cache
   + index/corpus memos cleared; `x_ann_ivf_topk_search` alone runs
   against a warm index rebuilt outside the timer). Requests are
   strictly sequential across the two workers, so the two local[N]
   sessions never time concurrently (the known local-mode gotcha).
3. Schedule: 3 passes over the shared query set (registry
   intersection); within a pass each query runs A then B back-to-back
   (B then A on odd passes, cancelling any systematic order bias) —
   A/B/A/B per query, never A-all-then-B-all. Per-query result is the
   min over passes, exactly bench.py's min-of-3.

Output: BENCH_AB_r{N}.json with per-query and total times for both
commits. Perf claims in README/round notes should cite ONLY this
artifact, never raw cross-round BENCH files.

--repeats N (round 7, VERDICT r6 task 5) runs the whole interleaved
protocol N times and emits EVERY repeat's per-query minima and totals
into the one JSON: the noise-floor claim ("a second full A/B measured
the opposite sign") becomes auditable from the artifact instead of
README prose. The headline base/current blocks stay min-over-all-
passes-and-repeats, and the workers persist across repeats (same two
JVMs — a restart per repeat would reintroduce the warmup noise the
protocol exists to cancel).

Usage:
    python tools/bench_ab.py [--base REF] [--out FILE] [--passes 3]
                             [--repeats 1]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists
from cosmoz_data_pipeline_spark.plans import catalog_ext
from cosmoz_data_pipeline_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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


def _default_base() -> tuple[str, int]:
    """Latest driver end-of-round commit (`round N: ...`) and N."""
    out = _git("log", "--grep=^round [0-9]*:", "-n1", "--format=%H %s")
    if not out:
        raise SystemExit("no 'round N:' commit found; pass --base explicitly")
    sha, subject = out.split(" ", 1)
    m = re.match(r"round (\d+):", subject)
    return sha, int(m.group(1)) if m else 0


class Worker:
    def __init__(self, tree: str) -> None:
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
        # skip any non-JSON noise a JVM might emit on stdout
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("bench_ab worker died")
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=None, help="git ref of the base code")
    ap.add_argument("--out", default=None, help="output JSON path")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    if args.base is None:
        base_ref, base_round = _default_base()
    else:
        base_ref = _git("rev-parse", args.base)
        m = re.match(r"round (\d+):", _git("log", "-n1", "--format=%s", base_ref))
        base_round = int(m.group(1)) if m else 0
    out_path = args.out or os.path.join(REPO, f"BENCH_AB_r{base_round + 1:02d}.json")

    wt = os.path.join(REPO, ".ab_worktree")
    subprocess.run(
        ["git", "worktree", "remove", "--force", wt],
        cwd=REPO, capture_output=True,
    )
    subprocess.run(
        ["git", "worktree", "add", "--force", "--detach", wt, base_ref],
        cwd=REPO, check=True, capture_output=True,
    )
    try:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        # snapshot BEFORE the run (and before this tool overwrites its
        # own tracked output file): the state that is being measured
        dirty_files = [
            ln[2:].lstrip() for ln in _git("status", "--porcelain").splitlines() if ln
        ]
        print(f"A = base {base_ref[:10]} (worktree), B = current tree; "
              f"sf_dir={sf_dir}", file=sys.stderr)
        wa, wb = Worker(wt), Worker(REPO)
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
                print(f"repeat {rep + 1}/{args.repeats} "
                      f"pass {p + 1}/{args.passes} done "
                      f"(A={sum(ra.values()):.1f}s B={sum(rb.values()):.1f}s)",
                      file=sys.stderr)
            repeats.append({
                "base_total": round(sum(ra.values()), 3),
                "current_total": round(sum(rb.values()), 3),
                "base_queries": ra,
                "current_queries": rb,
            })
        ta = {n: min(r["base_queries"][n] for r in repeats
                     if n in r["base_queries"])
              for n in names if any(n in r["base_queries"] for r in repeats)}
        tb = {n: min(r["current_queries"][n] for r in repeats
                     if n in r["current_queries"])
              for n in names if any(n in r["current_queries"] for r in repeats)}
        wa.stop()
        wb.stop()
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=REPO, capture_output=True,
        )

    result = {
        "metric": "bench_ab_interleaved",
        "unit": "sec",
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "generated_unix": int(time.time()),
        "passes": args.passes,
        "repeats": repeats,
        "base": {
            "ref": base_ref,
            "value": round(sum(ta.values()), 3),
            "queries": ta,
        },
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
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: result[k] for k in ("metric", "sf")}
                     | {"base_total": result["base"]["value"],
                        "current_total": result["current"]["value"],
                        "out": out_path}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
