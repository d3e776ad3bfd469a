"""Generators are pure functions of (seed, size) and plant what they claim."""

import filecmp
import os

from perfbench import gen


def test_er_records_deterministic_per_seed():
    assert gen.er_records(5, 300) == gen.er_records(5, 300)
    assert gen.er_records(5, 300) != gen.er_records(6, 300)
    a, b = gen.er_records(5, 300)
    assert len(a) == len(b) == 300
    assert len({r["index"] for r in a}) == 300


def test_corpus_docs_deterministic_and_consistent():
    rows, expected = gen.corpus_docs(9, 400)
    assert (rows, expected) == gen.corpus_docs(9, 400)
    assert gen.corpus_docs(10, 400)[0] != rows
    ids = [i for i, _ in rows]
    assert len(set(ids)) == len(ids) == expected["input"]
    assert set(expected["survivors"]) <= set(ids)
    assert expected["input"] > expected["gated"] > expected["exact_deduped"]
    assert expected["exact_deduped"] > expected["near_deduped"] == len(expected["survivors"])
    assert expected["tokens_cut"] > 0
    # every surviving document fits one 512-character chunk
    text = dict(rows)
    assert max(len(text[i]) for i in expected["survivors"]) < 512


def test_cache_keyed_by_version_seed_and_size(tmp_path):
    root = str(tmp_path)
    first = gen.write_er_inputs(root, 1, 100)
    again = gen.write_er_inputs(root, 1, 100)
    assert first == again
    other_seed = gen.write_er_inputs(root, 2, 100)
    other_size = gen.write_er_inputs(root, 1, 120)
    assert len({os.path.dirname(p["a"]) for p in (first, other_seed, other_size)}) == 3
    assert f"g{gen.GEN_VERSION}" in os.path.basename(os.path.dirname(first["a"]))
    assert not filecmp.cmp(first["a"], other_seed["a"], shallow=False)
    regenerated = gen.write_er_inputs(str(tmp_path / "fresh"), 1, 100)
    assert filecmp.cmp(first["a"], regenerated["a"], shallow=False)
