"""Candidate blocking as a single equi-join plan.

The reference drives blocking with a Python double loop — per
(venue, rolling year window): filter both sides, cross join, score, union,
distinct — ~14 separate Spark jobs (reference src/match.py:100-120, G4 in
SURVEY.md §2.8). That shape can't scale: the driver serializes the job
sequence and every iteration rescans the inputs.

Here candidates come from ONE equi-join on a ``(venue_tag, year)`` key.
The loop's windows are ``[s, s+N]`` for ``s`` in ``[lower, upper - N]``,
so two years ``ya``, ``yb`` share a window iff some such ``s`` has
``max(ya, yb) - N <= s <= min(ya, yb)``, which holds iff

* both years lie in ``[lower, upper]``,
* ``|ya - yb| <= N``, and
* ``upper - lower >= N`` (some window fits in the range at all).

(⇒ reads the bounds off ``s``; ⇐ takes ``s = max(lower, max(ya, yb) - N)``.)
So the window itself is never needed: the left side keys on its own
``(venue_tag, year)``, the right side explodes to its *partner years*
``[max(lower, y-N), min(upper, y+N)]``, and the join emits every blocked
pair once per venue tag both sides contain. The reference dedups with
``.distinct()`` (src/match.py:118-120); here a pair is admitted only at its
canonical tag (the alphabetically first shared tag), a cheap post-join
predicate, so no quadratic-size dedup shuffle exists and each pair is
scored exactly once. When ``upper - lower < N`` no window fits and the
loop forms no block, so the result is empty.

The exploded-key + equi-join shape follows the standard distributed ER
blocking literature (e.g. SparkER, EDBT 2019: token/attribute blocking as
key-explosion + join in Spark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

YEAR_LOWER_BOUND = 1995
YEAR_UPPER_BOUND = 2004
DEFAULT_WINDOW = 3


def _venue_tags(venue: Column, venues: list[str]) -> Column:
    """The sorted list of ``venues`` the venue string contains."""
    tags = F.array(*[F.when(venue.contains(v), F.lit(v)) for v in sorted(venues)])
    return F.filter(tags, lambda t: t.isNotNull())


def candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    venues: list[str],
    year_col_left: str = "year",
    year_col_right: str = "year",
    venue_col_left: str = "venue",
    venue_col_right: str = "venue",
    lower: int = YEAR_LOWER_BOUND,
    upper: int = YEAR_UPPER_BOUND,
    window: int | None = DEFAULT_WINDOW,
) -> DataFrame:
    """Generate candidate pairs: every ``(left, right)`` row pair the
    reference loop blocks together, each exactly once, with the columns of
    both inputs.

    ``window=None`` -> exhaustive cross join (the reference's unblocked
    baseline, src/match.py:93-95). Otherwise the partner-year equi-join of
    the module docstring: left rows key on ``(venue_tag, year)``, right
    rows explode to ``(venue_tag, partner_year)``, and a pair sharing
    several tags is kept at the first. An empty result when
    ``upper - lower < window``: no window fits in the year range.

    The exploded right side is the probe side when the left broadcasts.
    When its input has few partitions (a single small file gives one), all
    O(pairs) scoring would land on a few tasks, so it is spread by
    ``right_id`` BEFORE the partner-year explode: the shuffle then carries
    one row per record and venue tag instead of 2N+1. A well-partitioned
    input skips the forced exchange and AQE sizes the join shuffle instead.
    """
    if window is None:
        return left.crossJoin(right)
    if window < 0:
        raise ValueError(f"window must be >= 0 or None, got {window}")
    if upper - lower < window:
        return left.crossJoin(right).limit(0)

    yl, yr = F.col(year_col_left), F.col(year_col_right)
    l_tags = _venue_tags(F.col(venue_col_left), venues)
    r_tags = _venue_tags(F.col(venue_col_right), venues)

    lk = left.filter(yl.between(lower, upper) & (F.size(l_tags) > 0)).select(
        "*", l_tags.alias("__l_tags"), F.explode(l_tags).alias("__l_tag")
    )
    rk = right.filter(yr.between(lower, upper) & (F.size(r_tags) > 0)).select(
        "*", r_tags.alias("__r_tags"), F.explode(r_tags).alias("__r_tag")
    )
    target = right.sparkSession.sparkContext.defaultParallelism
    if right.rdd.getNumPartitions() < max(2, target // 4):
        rk = rk.repartition(target, right_id)
    partner_years = F.sequence(
        F.greatest(F.lit(lower), yr - F.lit(window)),
        F.least(F.lit(upper), yr + F.lit(window)),
    )
    rk = rk.withColumn("__r_year", F.explode(partner_years))

    canonical_tag = F.array_min(F.array_intersect("__l_tags", "__r_tags"))
    return (
        lk.join(
            rk,
            (lk["__l_tag"] == rk["__r_tag"])
            & (lk[year_col_left] == rk["__r_year"]),
        )
        .filter(F.col("__l_tag") == canonical_tag)
        .drop("__l_tags", "__l_tag", "__r_tags", "__r_tag", "__r_year")
    )
