"""The measuring harness (tools/probe.py, tools/ab.py) and the plan
record (tools/explain_all.py) end to end.

The harness cases run in a subprocess: the event log the tools read is
a session startup conf, which the test session's own Spark cannot take.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from cosmoz_data_pipeline_spark import profile

REPO = Path(__file__).resolve().parents[1]


def _py(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args], cwd=REPO, capture_output=True, text=True, timeout=600
    )


def test_probe_level4_prefixes_leave_the_corpus_alone(sf_dir, tmp_path):
    root = os.path.dirname(sf_dir)
    before = (sorted(os.listdir(root)), profile.listing(None, sf_dir))
    out = tmp_path / "level4.json"
    p = _py(
        "tools/probe.py", "level4", sf_dir,
        "--work", str(tmp_path / "work"), "--out", str(out), "--runs", "1",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    prefixes = json.loads(out.read_text())["prefixes"]
    assert list(prefixes) == ["level1", "level2", "level3", "level4"]
    assert all(v["t"] > 0 for v in prefixes.values())
    tasks = [v["tasks"] for v in prefixes.values()]
    assert tasks[0] > 0 and tasks == sorted(tasks), tasks
    # one count per run; the first run of a fresh JVM compiles classes
    assert all(len(v["codegen_compiles"]) == 1 for v in prefixes.values())
    assert prefixes["level1"]["codegen_compiles"][0] > 0
    assert (sorted(os.listdir(root)), profile.listing(None, sf_dir)) == before


AB_SCRIPT = textwrap.dedent(
    """
    import json, sys
    from tools import ab, probe

    spark, log_dir = probe.session("ab-test", sys.argv[1])
    rows = lambda: spark.range(200).selectExpr("id", "id % 7 AS k")
    same = ab.interleave(spark, {"A": rows, "B": lambda: rows().repartition(3)}, 2)
    try:
        ab.interleave(spark, {"A": rows, "B": lambda: rows().where("id != 99")}, 1)
        dropped = None
    except ab.IdentityError as e:
        dropped = str(e)
    spark.stop()
    rec = ab.summarize(*same, probe.Counters(log_dir))
    print(json.dumps({"rec": rec, "dropped": dropped}))
    """
)


def test_ab_pins_identity(tmp_path):
    p = _py("-c", AB_SCRIPT, str(tmp_path / "work"))
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    rec = got["rec"]
    assert rec["identity"]["match"] and rec["identity"]["A"][0] == 200
    assert [r["first"] for r in rec["runs"]] == ["A", "B"]
    assert all(r[k]["t"] > 0 and r[k]["tasks"] > 0 for r in rec["runs"] for k in "AB")
    assert all(r[k]["codegen_compiles"] >= 0 for r in rec["runs"] for k in "AB")
    assert got["dropped"] is not None and "(200," in got["dropped"]


def test_explain_all_writes_only_its_out(spark, sf_dir, tmp_path):
    from tools import explain_all

    plans = REPO / "PLANS.md"
    before = plans.read_bytes()
    with pytest.raises(SystemExit):
        explain_all.main([sf_dir])  # --out is required
    out = tmp_path / "plans.md"
    explain_all.main(["--out", str(out), sf_dir, "level1"])
    assert "## level1" in out.read_text()
    assert plans.read_bytes() == before


def test_plan_ids_normalize_across_digit_counts():
    from tools.explain_all import normalize_ids

    def plan(ids):
        a, b, c, d, e, x, y = ids
        return (
            f"*({e}) Filter (isnotnull(ts#{a}) AND (value#{b}L > 3.0))\n"
            f"+- FileScan parquet [ts#{a},value#{b}L] DataFilters: "
            f"[isnotnull(ts#{a}), (cast(value#{b}L as double) > 3.0)], "
            f"ShuffleQueryStage {c}, plan_id={d}\n"
            # a higher-order function's lambda variables are numbered in
            # the order the session built them
            f"aggregate(_sm_l#{a}, 0.0, lambdafunction((lambda x_{x}#{b} + "
            f"lambda y_{y}#{c}), lambda x_{x}#{b}, lambda y_{y}#{c}, false), "
            f"lambdafunction(lambda id#{d}, lambda id#{d}, false))"
        )

    assert normalize_ids(plan((7, 8, 1, 9, 2, 13, 14))) == normalize_ids(
        plan((70123, 998877, 12, 104, 10, 7, 108))
    )


def test_explain_all_cuts_no_metadata_string(spark, sf_dir, tmp_path):
    """Spark's default cut of long scan metadata falls before the id
    rewrite, so its position would move with the ids' digit counts."""
    from tools import explain_all

    out = tmp_path / "plans.md"
    explain_all.main(["--out", str(out), sf_dir, "s01_scan_pushdown"])
    filters = re.findall(r"DataFilters: (.*?), Format: ", out.read_text())
    assert filters and max(map(len, filters)) > 100
    assert all(f.endswith("]") and "..." not in f for f in filters), filters
