"""As-of (nearest-event temporal) join kit — SURVEY §2.3 J5/J6.

The reference implements these as per-row correlated InfluxQL queries
(`SELECT LAST(...) WHERE time <= t` fallback `SELECT FIRST(...) WHERE
time >= t`, /root/reference/pipeline/cosmoz_process_levels.py:263-274;
SQL spec /root/reference/pipeline/level1->level2.sql:113-124) — an
N+1 pattern. Here it is a single distributed plan:

    union(left-probe rows, right-value rows)
      → one shuffle on the key
      → last(value, ignorenulls) over one ordered window per side
      → keep probe rows

Scale properties: exactly ONE shuffle (by join key), no broadcast of
the big side, no range explosion; the window is computed sort-merge
style within each key partition, and AQE splits skewed keys. This is
the standard log-structured as-of technique (same shape Flink/
QuestDB/kdb use) expressed in pure DataFrame ops.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SRC = "__asof_src"
_ORD = "__asof_ord"
_VAL = "__v"

# One physical shape per operator: a per-key window. The bucketed
# (key, week-bucket) + tail-carry shape lost on user-grained keys
# (ASOF_SINGLE_AB.json); the level chain's site-keyed as-of carry lives
# in its fused level2 attach (domain/levels.py, LEVEL_ASOF_AB.json).


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    values: Sequence[str],
    sides: Mapping[str, tuple[str, bool]],
) -> DataFrame:
    """Attach to each ``left`` row the ``values`` of the nearest
    ``right`` row per key group, once per entry of ``sides``
    (``{suffix: (direction, strict)}``), all in ONE union + ONE
    shuffle: each side is one running-window pass over the same hash
    partitioning, so the plan has a single Exchange and one Sort per
    distinct window order.

    direction='backward': latest right row with rt <= lt (rt < lt when
    ``strict``); direction='forward': earliest right row with rt >= lt
    (rt > lt when ``strict``). Output = all left columns +
    ``<value><suffix>`` per side, in ``sides`` order (NULL when no
    match).

    level2 asks for ``{"_bw": ("backward", False), "_fw": ("forward",
    True)}``: its forward side only fires when the backward one found
    nothing (the reference's cosmoz_process_levels.py:263-274 and
    level1->level2.sql:113-124), so an equal-time row was already
    caught backward and the forward side may be tie-blind.
    """
    on = list(on)
    values = list(values)
    for direction, _ in sides.values():
        if direction not in ("backward", "forward"):
            raise ValueError(direction)

    # probe rows carry their full payload; value rows carry only values
    left_cols = left.columns
    lhs = left.select(
        *left_cols,
        F.col(left_time).alias(_ORD),
        F.lit(1).alias(_SRC),
        *[F.lit(None).cast(right.schema[v].dataType).alias(v + _VAL) for v in values],
    )
    rhs = right.select(
        *[
            (F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in left_cols
        ],
        F.col(right_time).alias(_ORD),
        F.lit(0).alias(_SRC),
        *[F.col(v).alias(v + _VAL) for v in values],
    )
    unioned = lhs.unionByName(rhs)

    # Both directions run as a GROWING frame ([unboundedPreceding,
    # currentRow]) with last(ignorenulls) — a running O(1)-per-row
    # aggregate. The forward direction reverses the sort instead of
    # using [currentRow, unboundedFollowing]: Spark's unbounded-
    # FOLLOWING frame re-evaluates the aggregate from scratch per row
    # (O(n²) per key — measured 6.5 s vs 0.8 s on the level2 join).
    # Ties: at equal time value rows scan before the probe row for
    # non-strict (rt == lt visible), after it for strict (hidden).
    picked = []
    for suffix, (direction, strict) in sides.items():
        t = F.col(_ORD).asc() if direction == "backward" else F.col(_ORD).desc()
        src = F.col(_SRC).desc() if strict else F.col(_SRC).asc()
        frame = (
            Window.partitionBy(*on)
            .orderBy(t, src)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        picked += [
            F.last(v + _VAL, ignorenulls=True).over(frame).alias(v + suffix)
            for v in values
        ]

    resolved = unioned.select(*left_cols, _ORD, _SRC, *picked)
    return resolved.where(F.col(_SRC) == 1).drop(_ORD, _SRC)
