"""Property-based check of the as-of join kit against a brute-force
reference: for random (key, time, value) frames every direction/
strictness combination must match a per-row linear scan — including
equal-time ties and multi-value ties, the surface where the
reference's fallback chain is subtle
(/root/reference/pipeline/level1->level2.sql:113-124).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cosmoz_data_pipeline_spark.operators.asof import asof_join

_BASE = dt.datetime(2021, 1, 1)


def _mk(times):
    return [_BASE + dt.timedelta(minutes=m) for m in times]


# small integer minute-offsets generate plenty of exact ties
_frame = st.lists(
    st.tuples(st.integers(1, 2), st.integers(0, 12)), min_size=1, max_size=8
)


def _expected(left, right, direction, strict):
    out = {}
    for site, lt in left:
        cands = [
            (rt, v)
            for (rsite, rt, v) in right
            if rsite == site
            and (
                (direction == "backward" and (rt < lt if strict else rt <= lt))
                or (direction == "forward" and (rt > lt if strict else rt >= lt))
            )
        ]
        if not cands:
            out[(site, lt)] = None
        elif direction == "backward":
            # latest matching time; among equal times the union+window
            # scan picks the value row encountered last in sort order —
            # any of the tied values is admissible, so compare the set
            out[(site, lt)] = {v for rt, v in cands if rt == max(c[0] for c in cands)}
            continue
        else:
            out[(site, lt)] = {v for rt, v in cands if rt == min(c[0] for c in cands)}
            continue
        out[(site, lt)] = None if not cands else out[(site, lt)]
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(lf=_frame, rf=_frame, direction=st.sampled_from(["backward", "forward"]), strict=st.booleans())
def test_asof_matches_bruteforce(spark, lf, rf, direction, strict):
    left_rows = [(s, t) for (s, m), t in zip(lf, _mk([m for _, m in lf]))]
    right_rows = [
        (s, t, float(i)) for i, ((s, m), t) in enumerate(zip(rf, _mk([m for _, m in rf])))
    ]
    left = spark.createDataFrame(left_rows, "site int, t timestamp")
    right = spark.createDataFrame(right_rows, "site int, t timestamp, v double")

    got = asof_join(
        left, right, on=["site"], left_time="t", right_time="t",
        values=["v"], sides={"_x": (direction, strict)},
    ).collect()
    # row multiplicity must be preserved
    assert len(got) == len(left_rows)

    exp = _expected(left_rows, right_rows, direction, strict)
    for r in got:
        want = exp[(r.site, r.t.replace(tzinfo=None))]
        if want is None:
            assert r.v_x is None, (r, want)
        else:
            assert r.v_x in want, (r, want)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(lf=_frame, rf=_frame)
def test_asof_both_matches_single_direction(spark, lf, rf):
    """A two-sided asof_join equals two one-sided calls: its backward
    side == inclusive backward, its forward side == strict forward
    (tie-blind by design), and both match the per-row scan."""
    left_rows = [(s, t) for (s, m), t in zip(lf, _mk([m for _, m in lf]))]
    right_rows = [
        (s, t, float(i)) for i, ((s, m), t) in enumerate(zip(rf, _mk([m for _, m in rf])))
    ]
    left = spark.createDataFrame(left_rows, "site int, t timestamp")
    right = spark.createDataFrame(right_rows, "site int, t timestamp, v double")

    kw = dict(on=["site"], left_time="t", right_time="t", values=["v"])
    both = asof_join(
        left, right, sides={"_bw": ("backward", False), "_fw": ("forward", True)}, **kw
    ).collect()
    assert len(both) == len(left_rows)
    bw = {
        (r.site, r.t): r.v_bw
        for r in asof_join(left, right, sides={"_bw": ("backward", False)}, **kw).collect()
    }
    fw = {
        (r.site, r.t): r.v_fw
        for r in asof_join(left, right, sides={"_fw": ("forward", True)}, **kw).collect()
    }

    exp_bw = _expected(left_rows, right_rows, "backward", strict=False)
    exp_fw = _expected(left_rows, right_rows, "forward", strict=True)
    for r in both:
        key = (r.site, r.t.replace(tzinfo=None))
        want_bw, want_fw = exp_bw[key], exp_fw[key]
        assert (r.v_bw is None and want_bw is None) or r.v_bw in want_bw
        assert (r.v_fw is None and want_fw is None) or r.v_fw in want_fw
        # equal to the one-sided calls wherever the pick is unique
        # (among equal-time value rows any one is admissible)
        if want_bw is None or len(want_bw) == 1:
            assert r.v_bw == bw[(r.site, r.t)]
        if want_fw is None or len(want_fw) == 1:
            assert r.v_fw == fw[(r.site, r.t)]
