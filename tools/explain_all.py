"""Dump the executed physical plan of EVERY registry query to
PLANS.md — the ".explain until it's the plan you'd want" evidence,
reviewable without running Spark. Each section also one-lines the
health signals the plan tests assert (codegen spans, broadcast joins,
absence of cartesian/nested-loop joins). Expression ids (``#123``),
plan ids (``plan_id=45``) and the numbered lambda variables of
higher-order functions (``lambda x_13``) depend on what the session
built before, and AQE numbers query stages and codegen stages
(``ShuffleQueryStage 5``, ``*(6)``) in the order its stages happen to
finish; all five are written as fixed tokens, so two regenerations of
the same code diff cleanly, a run over a few named queries matches the
full-registry run, and a diff across commits shows only plan changes. (A join
whose two sides are both broadcastable can still flip its build side
between runs: AQE picks it from whichever side finished first.) Input
paths are written relative to the corpus directory, as ``<sf_dir>``.
Spark cuts long scan metadata (``DataFilters: [...``) at a fixed length
BEFORE the ids are rewritten, so a cut point would move with the digit
count of the ids; the tool's session therefore cuts no metadata string
(a plan here is longer than Spark's default ``explain``).

Usage: python tools/explain_all.py --out PLANS.md SF_DIR [name ...]
(default: every query). Writes only ``--out``; to refresh the
committed record (taken over sf0.01), pass the checkout's own
``PLANS.md``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402


_RUN_ORDER_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
)


def normalize_ids(plan: str) -> str:
    """Replace ids that depend on session history or AQE stage order
    by fixed tokens."""
    for pattern, token in _RUN_ORDER_IDS:
        plan = pattern.sub(token, plan)
    return plan


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", help="the corpus directory")
    p.add_argument("names", nargs="*", help="registry queries (default: all)")
    p.add_argument("--out", required=True, help="the markdown file to write")
    args = p.parse_args(argv)
    sf_dir = os.path.abspath(args.sf_dir)
    names = args.names or list(REGISTRY)
    spark = build_session(app_name="cosmoz-explain")
    spark.conf.set("spark.sql.maxMetadataStringLength", str(2**31 - 1))
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# Physical plans (executed, AQE-final) — full registry",
        "",
        f"Generated by `tools/explain_all.py` over `{os.path.basename(sf_dir)}`",
        "(input paths written as `<sf_dir>`). Signals per query:",
        "`WSCG` = whole-stage-codegen spans (`*(n)` markers), `BHJ`/`SMJ` =",
        "broadcast/sort-merge joins, `XP` = shuffle exchanges.",
        "`CartesianProduct` must never appear. `BroadcastNestedLoopJoin` is",
        "permitted only as a bounded-build-side generator: the 1-row",
        "cursor broadcast (st2), x_ann_cosine_topk's declared brute-force",
        "baseline (non-equi probe against the tiny broadcast query set),",
        "and the IVF flat-assignment branch's crossJoin against the K-row",
        "centroid table (adaptive: only taken below K=64, where K is tiny",
        "by construction; above the threshold the two-level path uses",
        "broadcast HASH joins) — asserted in `tests/test_plan_quality.py`.",
        "",
    ]
    from cosmoz_data_pipeline_spark.plans import release_persists  # noqa: E402

    for name in names:
        df = REGISTRY[name].run(spark, sf_dir)
        df.collect()  # finalize the AQE plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        signals = (
            f"WSCG={plan.count('*(')} "
            f"BHJ={plan.count('BroadcastHashJoin')} "
            f"SMJ={plan.count('SortMergeJoin')} "
            f"XP={plan.count('Exchange')} "
            f"cartesian={'CartesianProduct' in plan} "
            f"bnlj={'BroadcastNestedLoopJoin' in plan}"
        )
        text = normalize_ids(plan).replace(sf_dir, "<sf_dir>")
        out += [f"## {name}", "", f"`{signals}`", "", "```", text.rstrip(), "```", ""]
        release_persists()
        spark.catalog.clearCache()
    with open(args.out, "w") as f:
        f.write("\n".join(out))
    print(f"{args.out} written ({len(names)} queries)")


if __name__ == "__main__":
    main()
