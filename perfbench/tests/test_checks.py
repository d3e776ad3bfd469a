"""Every output check accepts the right answer and rejects a perturbed one."""

import pytest

from perfbench import checks, gen
from tests.er_fixture import oracle_matches


def test_pruned_er_oracle_equals_brute_force():
    recs_a, recs_b = gen.er_records(21, 150)
    expected = checks.er_expected_pairs(recs_a, recs_b, window=3)
    assert expected == oracle_matches(recs_a, recs_b, 3)
    assert expected  # planted pairs in the match bands are found


@pytest.fixture(scope="module")
def er_truth():
    recs_a, recs_b = gen.er_records(22, 400)
    pairs = checks.er_expected_pairs(recs_a, recs_b, window=3)
    entities = len(set(checks._components(
        (("a", a), ("b", b)) for a, b in pairs).values()))
    return pairs, entities


def test_check_er_accepts_oracle(er_truth):
    pairs, entities = er_truth
    assert checks.check_er(set(pairs), entities, pairs) == []


def test_check_er_rejects_dropped_or_extra_pair(er_truth):
    pairs, entities = er_truth
    dropped = set(pairs)
    dropped.pop()
    assert checks.check_er(dropped, entities, pairs)
    assert checks.check_er(set(pairs) | {("a9999999", "b9999999")}, entities, pairs)


def test_check_er_rejects_wrong_entity_count(er_truth):
    pairs, entities = er_truth
    assert checks.check_er(set(pairs), entities - 1, pairs)


@pytest.fixture(scope="module")
def corpus_truth():
    _, expected = gen.corpus_docs(7, 600)
    funnel = {k: v for k, v in expected.items() if k != "survivors"}
    return funnel, expected


def test_check_corpus_accepts_planted(corpus_truth):
    funnel, expected = corpus_truth
    assert checks.check_corpus(funnel, list(expected["survivors"]), expected) == []


@pytest.mark.parametrize("stage", ["gated", "exact_deduped", "near_deduped", "chunks", "tokens_cut"])
def test_check_corpus_rejects_off_by_one(corpus_truth, stage):
    funnel, expected = corpus_truth
    wrong = dict(funnel, **{stage: funnel[stage] + 1})
    assert checks.check_corpus(wrong, list(expected["survivors"]), expected)


def test_check_corpus_rejects_dropped_survivor(corpus_truth):
    funnel, expected = corpus_truth
    assert checks.check_corpus(funnel, list(expected["survivors"])[1:], expected)
