"""Property tests: token_jaccard vs Python set-Jaccard, vector ops vs
numpy, score_and_match vs the brute-force pair oracle, on randomized
inputs (batched through Spark in one pass)."""

import math
import re

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pyspark_entity_resolution_spark.functions.similarity import token_jaccard
from pyspark_entity_resolution_spark.functions.vectors import cosine, dot, l2_norm
from pyspark_entity_resolution_spark.operators.matching import score_and_match

from .er_fixture import _jaccard, _levenshtein, _pair_matches
from .reference_semantics import oracle_num_authors

words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "42"]),
    min_size=1,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(words, words), min_size=1, max_size=20))
def test_token_jaccard_matches_python_sets(spark, pairs):
    rows = [(" ".join(a), " ".join(b)) for a, b in pairs]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", token_jaccard("a", "b").alias("j")).collect()
    for r in got:
        sa = set(re.split(r"\s+", r["a"]))
        sb = set(re.split(r"\s+", r["b"]))
        expected = len(sa & sb) / len(sa | sb)
        assert abs(r["j"] - expected) < 1e-12, (r["a"], r["b"])


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=4),
            st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=4),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_vector_ops_match_numpy(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], ["i", "a", "b"]
    )
    got = df.select(
        "i",
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine("a", "b").alias("cos"),
    ).collect()
    for r in got:
        a = np.array(pairs[r["i"]][0], dtype=np.float32).astype(np.float64)
        b = np.array(pairs[r["i"]][1], dtype=np.float32).astype(np.float64)
        assert abs(r["dot"] - float(np.dot(a, b))) < 1e-9
        assert abs(r["na"] - float(np.linalg.norm(a))) < 1e-9
        na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
        if na > 0 and nb > 0:
            assert abs(r["cos"] - float(np.dot(a, b)) / (na * nb)) < 1e-9
        else:
            assert r["cos"] is None or math.isnan(r["cos"]) or math.isinf(r["cos"])


NAMES = ["alice smith", "bob jones", "carol chen", "erin müller", "dave kim"]
author_lists = st.lists(st.sampled_from(NAMES), min_size=1, max_size=3).map(", ".join)
any_authors = st.one_of(st.none(), st.just(""), author_lists)
titles = words.map(" ".join)
venues = st.sampled_from(["sigmod conf", "vldb j", "icde", "the vldb+sigmod workshop"])
# (a_authors, a_num_authors, b_authors, b_num_authors, matches); author-length
# gaps of 9 (a distance the band keeps) and 10 (one it drops) straddle the
# length prefilter's bound
EDGE_PAIRS = [
    ("alice smith", 1, "alice smith" + "x" * 9, 1, True),
    ("alice smith", 1, "alice smith" + "x" * 10, 1, False),
    ("", 1, "", 1, True),  # empty authors count as one author
    (None, 0, None, 0, False),
    ("alice smith, bob jones", 2, "alice smith, bob jones", 1, False),
]


@st.composite
def author_pairs(draw):
    a = draw(any_authors)
    how = draw(st.sampled_from(["same", "gap9", "gap10", "typo", "fresh"]))
    base = a or ""
    b = {
        "same": a,
        "gap9": base + "x" * 9,
        "gap10": base + "x" * 10,
        "typo": base[:-1] + "q",
        "fresh": None,
    }[how]
    if how == "fresh":
        b = draw(any_authors)
    if draw(st.booleans()):
        a, b = b, a
    # author counts as cleaning derives them, or arbitrary (unequal) ones
    na = draw(st.one_of(st.just(oracle_num_authors(a)), st.integers(0, 3)))
    nb = draw(st.one_of(st.just(oracle_num_authors(b)), st.integers(0, 3)))
    return a, na, b, nb


@st.composite
def record_pairs(draw):
    a_auth, na, b_auth, nb = draw(author_pairs())
    ta, va = draw(titles), draw(venues)
    tb = draw(st.one_of(st.just(ta), titles))
    vb = draw(st.one_of(st.just(va), venues))
    return (ta, a_auth, va, na), (tb, b_auth, vb, nb)


@settings(max_examples=6, deadline=None)
@given(st.lists(record_pairs(), min_size=1, max_size=40))
def test_score_and_match_equals_pair_oracle(spark, pairs):
    n_random = len(pairs)
    pairs = pairs + [
        (("x y z", a, "vldb j", na), ("x y z", b, "vldb", nb))
        for a, na, b, nb, _ in EDGE_PAIRS
    ]
    side = "pid int, {p}_title string, {p}_authors string, {p}_venue string, {p}_num_authors int"
    a = spark.createDataFrame([(i, *ra) for i, (ra, _) in enumerate(pairs)], side.format(p="a"))
    b = spark.createDataFrame([(i, *rb) for i, (_, rb) in enumerate(pairs)], side.format(p="b"))
    # a join, as in the pipeline: the count equality becomes a join key there
    got = {
        r["pid"]: (r["scores"], r["title_jaccard_sim"])
        for r in score_and_match(a.join(b, "pid")).collect()
    }

    expected = {}
    for i, (ra, rb) in enumerate(pairs):
        da, db = (
            dict(zip(["title", "authors", "venue", "num_authors"], r)) for r in (ra, rb)
        )
        if _pair_matches(da, db):
            expected[i] = (
                _levenshtein(da["authors"], db["authors"]),
                _jaccard(da["title"], db["title"]),
            )
    assert got.keys() == expected.keys()
    for i, (score, jac) in expected.items():
        assert got[i][0] == score and abs(got[i][1] - jac) < 1e-12, pairs[i]
    for k, edge in enumerate(EDGE_PAIRS):
        assert (n_random + k in got) == edge[-1], edge
