"""Property test: the blocked candidate join emits exactly the reference
loop's pair set, each pair once, for arbitrary years/venues/windows
(SURVEY.md §7.1 step 5 equivalence)."""

from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from pyspark_entity_resolution_spark.operators.blocking import candidate_pairs

LOWER, UPPER = 1995, 2004
VENUES = ["sigmod", "vldb"]

records = st.lists(
    st.tuples(
        st.integers(min_value=1985, max_value=2010),
        st.sampled_from(
            ["sigmod conf", "vldb j", "icde", "the vldb+sigmod workshop", ""]
        ),
    ),
    min_size=1,
    max_size=30,
)


def _oracle_pairs(left, right, window: int) -> set[tuple[int, int]]:
    """Reference loop semantics (src/match.py:102-120): per venue and
    window [s, s+N] with s in range(lower, upper), break when s+N > upper,
    cross join the records of both sides inside it; union, distinct."""
    out = set()
    for v in VENUES:
        for s in range(LOWER, UPPER):
            if s + window > UPPER:
                break
            for i, (ya, va) in enumerate(left):
                for j, (yb, vb) in enumerate(right):
                    if v in va and v in vb and s <= ya <= s + window and s <= yb <= s + window:
                        out.add((i, j))
    return out


@settings(max_examples=8, deadline=None)
@given(records, records, st.integers(min_value=1, max_value=12), st.booleans())
def test_candidate_pairs_match_loop_pair_set(spark, left, right, window, one_part):
    a = spark.createDataFrame(
        [(i, y, v) for i, (y, v) in enumerate(left)], ["a_id", "a_year", "a_venue"]
    )
    b = spark.createDataFrame(
        [(j, y, v) for j, (y, v) in enumerate(right)], ["b_id", "b_year", "b_venue"]
    )
    if one_part:  # the single-partition input takes the spread path
        b = b.coalesce(1)
    pairs = candidate_pairs(
        a, b, "a_id", "b_id", VENUES,
        year_col_left="a_year", year_col_right="b_year",
        venue_col_left="a_venue", venue_col_right="b_venue",
        lower=LOWER, upper=UPPER, window=window,
    )
    assert pairs.columns == a.columns + b.columns
    rows = pairs.collect()
    got = Counter((r["a_id"], r["b_id"]) for r in rows)
    assert all(n == 1 for n in got.values()), [p for p, n in got.items() if n > 1]
    assert set(got) == _oracle_pairs(left, right, window), window


def test_negative_window_is_rejected(spark):
    a = spark.createDataFrame([(0, 2000, "vldb")], ["a_id", "a_year", "a_venue"])
    b = spark.createDataFrame([(0, 2000, "vldb")], ["b_id", "b_year", "b_venue"])
    with pytest.raises(ValueError, match="window"):
        candidate_pairs(
            a, b, "a_id", "b_id", VENUES,
            year_col_left="a_year", year_col_right="b_year",
            venue_col_left="a_venue", venue_col_right="b_venue", window=-1,
        )
