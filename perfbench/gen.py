"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair gives
byte-identical inputs. Generated files are cached under a directory keyed by
``GEN_VERSION``, the workload kind, the seed and the size, so a change to a
generator (bump ``GEN_VERSION``) or a new seed never reuses stale files.

The generators write their own file formats (AMiner text, parquet through
pyarrow) and import nothing from the package under test, so a change to the
package cannot change the benchmark's inputs.
"""

from __future__ import annotations

import json
import os
import random

GEN_VERSION = 1

# ---------------------------------------------------------------- ER --

ER_VENUES_A = {"sigmod": "SIGMOD Conference", "vldb": "VLDB"}
ER_VENUES_B = {"sigmod": "Proceedings of SIGMOD", "vldb": "VLDB Journal"}
ER_DECOY_VENUES = ["ICDE", "KDD", "CIKM", "WWW"]
ER_YEARS = (1995, 2004)
FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "karl", "lena", "mike", "nina", "oscar", "josé"]
LAST = ["smith", "jones", "chen", "garcia", "müller", "dubois", "kim", "patel",
        "rossi", "novak", "silva", "weber", "tanaka", "olsen"]
TITLE_WORDS = """adaptive aggregation algebra analytics approximate array
benchmark bitmap btree buffer caching calculus cardinality catalog certificate
checkpoint cluster columnar compaction compression concurrency consensus
consistency constraint cost cube cursor datalog decomposition dependency
deterministic dictionary distributed durability elastic embedding encoding
engine estimation evaluation execution federated filter fragment graph hashing
heuristic histogram incremental index inference integration isolation
iterative join kernel lattice layout lineage locking logging materialized
memory mining monitoring multidimensional optimizer ordering partitioning
persistent pipeline planner predicate privacy probabilistic provenance pruning
query ranking recovery recursive replication resilient sampling scalable
schema semantic serializable sharding similarity sketch skyline snapshot
sorting spatial sql storage streaming summarization temporal transaction trie
tuning uncertain updates vectorized versioned view warehouse window workload
xml""".split()

# planted cross-side pair kinds, cycled. The first five sit in a match band
# (identical authors, one-character author edit, one title token swapped,
# empty author string, two A records matching one B record); the rest are
# near misses that fail exactly one rule.
ER_PLANTED = [
    "exact", "author_edit", "title_swap", "empty_authors", "chain",
    "miss_author_count", "miss_title_2swap", "miss_year_far", "miss_venue",
]
ER_PLANTED_SHARE = 0.12
ER_DECOY_SHARE = 0.03


def _title(rng: random.Random) -> str:
    return " ".join(rng.sample(TITLE_WORDS, 6))


def _authors(rng: random.Random, n: int) -> str:
    return ", ".join(f"{rng.choice(FIRST)} {rng.choice(LAST)}" for _ in range(n))


def _swap_title_tokens(rng: random.Random, title: str, k: int) -> str:
    toks = title.split(" ")
    fresh = rng.sample([w for w in TITLE_WORDS if w not in toks], k)
    for pos, word in zip(rng.sample(range(len(toks)), k), fresh):
        toks[pos] = word
    return " ".join(toks)


def _edit_last_char(rng: random.Random, authors: str) -> str:
    last = authors[-1]
    repl = rng.choice([c for c in "bcdfghklmnprstvz" if c != last])
    return authors[:-1] + repl


def er_records(seed: int, n_per_side: int) -> tuple[list[dict], list[dict]]:
    """Two AMiner-shaped record lists of ``n_per_side`` records each.

    SIGMOD/VLDB 1995-2004 with side-specific venue spellings (the
    reference's two-source shape), a few decoys that the prepare filter
    drops, and ``ER_PLANTED_SHARE`` of the A side planted as cross-side
    pairs cycling through ``ER_PLANTED``. Which pairs match is decided by
    the oracle, never by these labels."""
    rng = random.Random(f"er/{seed}/{n_per_side}")
    recs_a: list[dict] = []
    recs_b: list[dict] = []

    def rec(side, title, authors, year, tag, idx):
        venue = (ER_VENUES_A if side == "a" else ER_VENUES_B)[tag]
        return {"title": title, "authors": authors, "year": year,
                "venue": venue, "index": f"{side}{idx:07d}"}

    def rand_year():
        return rng.randint(*ER_YEARS)

    n_planted = int(n_per_side * ER_PLANTED_SHARE)
    for i in range(n_planted):
        kind = ER_PLANTED[i % len(ER_PLANTED)]
        tag = rng.choice(["sigmod", "vldb"])
        year = rand_year()
        title = _title(rng)
        authors = _authors(rng, rng.randint(1, 4))
        b_title, b_authors, b_tag = title, authors, tag
        b_year = min(max(year + rng.choice([-1, 0, 0, 1]), ER_YEARS[0]), ER_YEARS[1])
        if kind == "author_edit":
            b_authors = _edit_last_char(rng, authors)
        elif kind == "title_swap":
            b_title = _swap_title_tokens(rng, title, 1)
        elif kind == "empty_authors":
            authors = b_authors = ""
        elif kind == "chain":
            recs_a.append(rec("a", title, authors, year, tag, len(recs_a)))
        elif kind == "miss_author_count":
            b_authors = authors + ", " + _authors(rng, 1)
        elif kind == "miss_title_2swap":
            b_title = _swap_title_tokens(rng, title, 2)
        elif kind == "miss_year_far":
            year, b_year = ER_YEARS[0], ER_YEARS[1] - 1
        elif kind == "miss_venue":
            b_tag = "vldb" if tag == "sigmod" else "sigmod"
        recs_a.append(rec("a", title, authors, year, tag, len(recs_a)))
        recs_b.append(rec("b", b_title, b_authors, b_year, b_tag, len(recs_b)))

    for side, recs in (("a", recs_a), ("b", recs_b)):
        while len(recs) < n_per_side:
            r = rec(side, _title(rng), _authors(rng, rng.randint(1, 4)),
                    rand_year(), rng.choice(["sigmod", "vldb"]), len(recs))
            if rng.random() < ER_DECOY_SHARE:
                if rng.random() < 0.5:
                    r["venue"] = rng.choice(ER_DECOY_VENUES)
                else:
                    r["year"] = rng.choice([1988, 1993, 2007, 2012])
            recs.append(r)
        rng.shuffle(recs)
    return recs_a, recs_b


def format_aminer(recs: list[dict]) -> str:
    """AMiner citation-dump text: tagged lines, blank-line separated."""
    return "\n\n".join(
        f"#*{r['title']}\n#@{r['authors']}\n#t{r['year']}\n#c{r['venue']}"
        f"\n#index{r['index']}"
        for r in recs
    )


# ------------------------------------------------------------ corpus --

CORPUS_STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "for", "with", "on"]
CORPUS_SHARES = {"short": 0.02, "exact": 0.05, "near": 0.06, "boiler": 0.12}
CORPUS_BOILER_TOKENS = 15
CORPUS_BOILER_COPIES = 3


def _corpus_vocab() -> list[str]:
    vrng = random.Random("corpus-vocab")
    onsets = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
    vowels = ["a", "e", "i", "o", "u"]
    words = set()
    while len(words) < 600:
        words.add("".join(vrng.choice(onsets) + vrng.choice(vowels)
                          for _ in range(vrng.randint(2, 3))))
    return sorted(words)


def corpus_docs(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], dict]:
    """``n_docs`` documents of roughly 300 characters plus their planted
    structure.

    Planted: short documents the quality gate drops; exact duplicates
    (whitespace variants of a base document); near-duplicate groups whose
    members are token permutations of one base (token-set Jaccard 1, so
    every MinHash band collides and detection is certain); and shared
    ``CORPUS_BOILER_TOKENS``-token boilerplate passages that end
    ``CORPUS_BOILER_COPIES`` otherwise distinct documents, each copy
    preceded by a distinct token so no window crossing the passage
    boundary repeats. Returns ``(rows, expected)`` where ``expected``
    holds the funnel counts and survivor ids the pipeline must produce."""
    rng = random.Random(f"corpus/{seed}/{n_docs}")
    vocab = _corpus_vocab()

    def body(n_tokens: int) -> list[str]:
        return [rng.choice(CORPUS_STOPWORDS) if rng.random() < 0.15
                else rng.choice(vocab) for _ in range(n_tokens)]

    groups: list[tuple[str, list[str]]] = []  # (kind, texts); lowest id survives
    planted = dict.fromkeys(["short", "exact", "near", "boiler", "unique"], 0)

    def add(kind: str, texts: list[str]) -> None:
        groups.append((kind, texts))
        planted[kind] += len(texts)

    target = {k: int(n_docs * share) for k, share in CORPUS_SHARES.items()}
    while planted["short"] < target["short"]:
        add("short", [" ".join(body(3))])
    while planted["exact"] < target["exact"]:
        toks = body(rng.randint(40, 55))
        variant = "  ".join(toks[:5]) + " " + " ".join(toks[5:]) + " "
        add("exact", [" ".join(toks)] + [variant] * rng.randint(1, 2))
    while planted["near"] < target["near"]:
        toks = body(rng.randint(40, 55))
        members = [" ".join(toks)]
        size = rng.choice([2, 2, 3])
        while len(members) < size:
            perm = list(toks)
            for _ in range(3):
                i = rng.randrange(len(perm) - 1)
                perm[i], perm[i + 1] = perm[i + 1], perm[i]
            if " ".join(perm) not in members:
                members.append(" ".join(perm))
        add("near", members)
    while planted["boiler"] < target["boiler"]:
        passage = [rng.choice(vocab) for _ in range(CORPUS_BOILER_TOKENS)]
        for lead in rng.sample(vocab, CORPUS_BOILER_COPIES):
            add("boiler", [" ".join(body(rng.randint(28, 38)) + [lead] + passage)])
    while sum(planted.values()) < n_docs:
        add("unique", [" ".join(body(rng.randint(40, 58)))])

    ids = iter(rng.sample(range(1, 50 * n_docs), sum(planted.values())))
    rows: list[tuple[int, str]] = []
    survivors: list[int] = []
    for kind, texts in groups:
        gids = [next(ids) for _ in texts]
        rows.extend(zip(gids, texts))
        if kind != "short":
            survivors.append(min(gids))
    rng.shuffle(rows)
    n_gated = len(rows) - planted["short"]
    exact_copies = sum(len(t) - 1 for k, t in groups if k == "exact")
    n_passages = planted["boiler"] // CORPUS_BOILER_COPIES
    expected = {
        "input": len(rows),
        "gated": n_gated,
        "exact_deduped": n_gated - exact_copies,
        "near_deduped": len(survivors),
        "span_cut": len(survivors),
        "chunks": len(survivors),
        # every copy of a passage but the lowest-id one loses it
        "tokens_cut": n_passages * (CORPUS_BOILER_COPIES - 1) * CORPUS_BOILER_TOKENS,
        "survivors": sorted(survivors),
    }
    return rows, expected


# ------------------------------------------------------------- cache --

def cache_dir(root: str, kind: str, seed: int, size: int) -> str:
    """Directory of one generated input set, keyed by generator version,
    workload kind, seed and size."""
    return os.path.join(root, f"{kind}-g{GEN_VERSION}-s{seed}-n{size}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def write_er_inputs(root: str, seed: int, n_per_side: int) -> dict:
    """Write (or reuse) the two AMiner dumps; returns their paths."""
    path = cache_dir(root, "er", seed, n_per_side)
    out = {"a": os.path.join(path, "dump_a.txt"), "b": os.path.join(path, "dump_b.txt")}
    if not _done(path):
        os.makedirs(path, exist_ok=True)
        recs_a, recs_b = er_records(seed, n_per_side)
        for side, recs in (("a", recs_a), ("b", recs_b)):
            with open(out[side], "w", encoding="utf-8") as f:
                f.write(format_aminer(recs))
        _mark_done(path)
    return out


def write_corpus_inputs(root: str, seed: int, n_docs: int) -> tuple[str, dict]:
    """Write (or reuse) the corpus as parquet ``(doc_id, text)``; returns
    the path and the planted structure."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = cache_dir(root, "corpus", seed, n_docs)
    data = os.path.join(path, "docs")
    expected_path = os.path.join(path, "expected.json")
    if not _done(path):
        os.makedirs(data, exist_ok=True)
        rows, expected = corpus_docs(seed, n_docs)
        half = len(rows) // 2
        for i, part in enumerate((rows[:half], rows[half:])):
            table = pa.table({
                "doc_id": pa.array([r[0] for r in part], pa.int64()),
                "text": pa.array([r[1] for r in part], pa.string()),
            })
            pq.write_table(table, os.path.join(data, f"part-{i:03d}.parquet"))
        with open(expected_path, "w") as f:
            json.dump(expected, f)
        _mark_done(path)
    with open(expected_path) as f:
        return data, json.load(f)
