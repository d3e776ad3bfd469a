"""Similarity measures and rule-based match predicates.

Re-expression of reference src/similarity.py (F6-F8, P7-P9 in SURVEY.md §2):
Levenshtein on author strings, token-set Jaccard on titles, and the
three-band match rule. All pure Column algebra. Catalyst does not reorder
predicates by cost; operators/matching.py puts cheap conditions the rule
implies ahead of the ``levenshtein`` DP (the reference orders its filters
by hand for the same reason, src/similarity.py:63-64; report.pdf p.4 §3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_jaccard(a: Column | str, b: Column | str, pattern: str = r"\s+") -> Column:
    """Set Jaccard of whitespace-delimited token sets:
    ``|A ∩ B| / |A ∪ B|`` (reference src/similarity.py:38-44).

    ``array_intersect``/``array_union`` deduplicate, giving true set
    semantics — same builtins the reference composes.
    """
    t1 = F.split(_col(a), pattern)
    t2 = F.split(_col(b), pattern)
    inter = F.size(F.array_intersect(t1, t2))
    union = F.size(F.array_union(t1, t2))
    return inter / union


def both_contain(left: Column | str, right: Column | str, needles: list[str]) -> Column:
    """Pair-level venue agreement: for some needle, BOTH sides contain it
    (reference src/similarity.py:53-55)."""
    left, right = _col(left), _col(right)
    cond = F.lit(False)
    for needle in needles:
        cond = cond | (left.contains(needle) & right.contains(needle))
    return cond


def match_rule(
    scores: Column | str,
    num_authors_l: Column | str,
    num_authors_r: Column | str,
    max_score: int = 10,
) -> Column:
    """The reference's three-band duplicate rule
    (reference src/similarity.py:57-67):

    - cond1: exact author match (score 0), same non-zero author count
    - cond2: exact author match with both sides author-less
    - cond3: near match (0 < score < max_score), same author count.

    Every band needs equal author counts, and a score below ``max_score``
    needs an author-length gap below it; operators/matching.py filters on
    both before computing the score.
    """
    s = _col(scores)
    nl, nr = _col(num_authors_l), _col(num_authors_r)
    non_zero = (nl > 0) & (nr > 0)
    zero = (nl == 0) & (nr == 0)
    same_n = nl == nr
    cond1 = (s == 0) & same_n & non_zero
    cond2 = (s == 0) & zero
    cond3 = (s > 0) & (s < max_score) & same_n
    return cond1 | cond2 | cond3
