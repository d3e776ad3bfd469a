"""Output checks for the benchmark workloads.

Each check takes plain Python values read back from a workload's output and
returns a list of human-readable problems, empty when the output is right.
Checks run outside every timed region.
"""

from __future__ import annotations

from collections import defaultdict


# ---------------------------------------------------------------- ER --

def er_expected_pairs(recs_a: list[dict], recs_b: list[dict], window: int | None = 3
                      ) -> set[tuple[str, str]]:
    """The matched-pair set of ``tests/er_fixture.py``'s brute-force oracle.

    Every pair the fixture's ``_pair_matches`` accepts has equal author
    counts and title Jaccard >= 0.6, so the candidate loop is restricted
    to pairs that pass both (an inverted index on title tokens per author
    count). The final decision for every surviving pair is the fixture's
    own ``_blocked_together`` and ``_pair_matches``, so the set is
    identical to ``er_fixture.oracle_matches`` (``test_checks`` compares
    the two on a generated input)."""
    from tests.er_fixture import _blocked_together, _pair_matches, oracle_clean

    clean_a = [c for c in map(oracle_clean, recs_a) if c]
    clean_b = [c for c in map(oracle_clean, recs_b) if c]
    postings: dict[tuple[int, str], list[int]] = defaultdict(list)
    toks_b = []
    for j, b in enumerate(clean_b):
        toks = set(b["title"].split())
        toks_b.append(toks)
        for t in toks:
            postings[(b["num_authors"], t)].append(j)
    out = set()
    for a in clean_a:
        toks_a = set(a["title"].split())
        shared: dict[int, int] = defaultdict(int)
        for t in toks_a:
            for j in postings.get((a["num_authors"], t), ()):
                shared[j] += 1
        for j, inter in shared.items():
            if inter < 0.6 * (len(toks_a) + len(toks_b[j]) - inter):
                continue
            b = clean_b[j]
            if window is not None and not _blocked_together(a, b, window):
                continue
            if _pair_matches(a, b):
                out.add((a["index"], b["index"]))
    return out


def _components(edges) -> dict:
    """Union-find over ``edges``; returns ``{node: root}`` for every node."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def check_er(pairs: set, entity_rows: int, expected: set) -> list[str]:
    """Matched pairs equal the oracle's; the entity table has one row per
    connected component of the oracle's pair graph."""
    problems = []
    if pairs != expected:
        problems.append(
            f"matched pairs differ from oracle: {len(pairs - expected)} extra, "
            f"{len(expected - pairs)} missing (of {len(expected)})"
        )
    nodes = _components((("a", a), ("b", b)) for a, b in expected)
    n_entities = len(set(nodes.values()))
    if entity_rows != n_entities:
        problems.append(f"entity table has {entity_rows} rows, oracle {n_entities}")
    return problems


# ------------------------------------------------------------ corpus --

OUTPUT_STAGES = ("near_deduped", "span_cut", "chunks", "tokens_cut")
FUNNEL_STAGES = ("input", "gated", "exact_deduped")


def check_corpus(funnel: dict, survivors: list, expected: dict) -> list[str]:
    """The output counts (``OUTPUT_STAGES``), any intermediate funnel counts
    given (``FUNNEL_STAGES``) and the surviving document ids equal the
    planted structure."""
    stages = OUTPUT_STAGES + tuple(s for s in FUNNEL_STAGES if s in funnel)
    problems = [
        f"{stage}: {funnel.get(stage)} != planted {expected[stage]}"
        for stage in stages
        if funnel.get(stage) != expected[stage]
    ]
    if sorted(survivors) != expected["survivors"]:
        problems.append("surviving document ids differ from planted survivors")
    return problems
