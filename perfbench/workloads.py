"""The benchmark workloads: what each one runs, times, traces and checks.

A workload has four parts:

- ``prepare``: generate (or reuse) the seeded inputs and the expected
  result. Never timed.
- ``run``: the untraced pass, calling the package exactly as a user would.
  Its wall time is the workload's ``wall_s``.
- ``traced``: the same work, one public layer call at a time, each inside a
  ``Tracer`` span with its own Spark job group, with every stage boundary
  materialized in dependency order.
- ``check``: read the pass's output back and compare it with the expected
  result. Never timed.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import time
from contextlib import contextmanager

from . import checks, gen
from .status import StatusCollector

# ---------------------------------------------------------------- spans --


class Tracer:
    """In-memory spans of one traced pass, each with its own job group.

    ``layer(name)`` opens a layer span; ``call()`` and ``exec()`` inside it
    time the public call and the materializing action. ``probe(name)``
    times an extra counting action that only the traced pass runs. Spans
    are ``{name, kind, start, end, parent, run}`` with times in epoch
    seconds."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def _span(self, name: str, kind: str, group: str | None):
        """A span; ``group`` (if any) tags the Spark jobs started inside it."""
        idx = len(self.spans)
        span = {"name": name, "kind": kind, "group": group, "start": time.time(),
                "end": None, "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id}
        self.spans.append(span)
        self._stack.append(idx)
        if group is not None:
            self.sc.setJobGroup(group, f"perfbench {name}")
        try:
            yield self
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if group is not None:
                # later jobs belong to the enclosing span's group
                outer = next((self.spans[i]["group"] for i in reversed(self._stack)
                              if self.spans[i]["group"] is not None),
                             f"{self.run_id}:after")
                self.sc.setJobGroup(outer, f"perfbench {outer}")

    def root(self):
        return self._span("run", "run", f"{self.run_id}:run")

    def layer(self, name: str):
        n = sum(1 for s in self.spans if s["kind"] == "layer" and s["name"] == name)
        return self._span(name, "layer", f"{self.run_id}:{name}:{n}")

    def call(self):
        return self._span(f"{self.spans[self._stack[-1]]['name']}.call", "call", None)

    def exec(self):
        return self._span(f"{self.spans[self._stack[-1]]['name']}.exec", "exec", None)

    def probe(self, name: str):
        return self._span(f"probe.{name}", "probe", f"{self.run_id}:probe")

    def layer_metrics(self, collector: StatusCollector) -> dict[str, dict]:
        """Per layer: span times plus the status-store totals of the
        layer's job groups."""
        out: dict[str, dict] = {}
        for idx, span in enumerate(self.spans):
            if span["kind"] != "layer":
                continue
            m = out.setdefault(span["name"], {
                "wall_s": 0.0, "call_s": 0.0, "exec_s": 0.0, "busy_s": 0.0,
                "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
                "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "max_task_s": 0.0})
            m["wall_s"] += span["end"] - span["start"]
            for child in self.spans:
                if child["parent"] == idx and child["kind"] in ("call", "exec"):
                    m[f"{child['kind']}_s"] += child["end"] - child["start"]
            g = collector.group_metrics(span["group"], (span["start"], span["end"]))
            for key in ("busy_s", "jobs", "tasks", "executor_run_s", "gc_s",
                        "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                m[key] += g[key]
            m["max_task_s"] = max(m["max_task_s"], g["max_task_s"])
        for m in out.values():
            m["idle_s"] = max(0.0, m["wall_s"] - m["busy_s"])
        return out


# ------------------------------------------------------------ helpers --


def unpersist_all(spark) -> None:
    """Release every persisted or locally checkpointed RDD."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _csv_rows(path: str) -> int:
    rows = 0
    for part in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(part, newline="", encoding="utf-8") as f:
            rows += max(0, sum(1 for _ in csv.reader(f)) - 1)
    return rows


def _parquet_table(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(sorted(glob.glob(os.path.join(path, "*.parquet"))))


# ----------------------------------------------------------------- ER --


class ERWorkload:
    """``run_er_pipeline`` followed by ``write_csv`` of the entity table,
    on two seeded AMiner dumps (SIGMOD/VLDB 1995-2004, window N=3)."""

    def __init__(self, name: str, n_per_side: int, why: str):
        self.name, self.n_per_side, self.why = name, n_per_side, why

    def prepare(self, cache: str, seed: int) -> dict:
        paths = gen.write_er_inputs(cache, seed, self.n_per_side)
        oracle = os.path.join(gen.cache_dir(cache, "er", seed, self.n_per_side),
                              "oracle_pairs.json")
        if not os.path.exists(oracle):
            recs_a, recs_b = gen.er_records(seed, self.n_per_side)
            pairs = sorted(checks.er_expected_pairs(recs_a, recs_b, window=3))
            with open(oracle + ".tmp", "w") as f:
                json.dump(pairs, f)
            os.replace(oracle + ".tmp", oracle)
        with open(oracle) as f:
            expected = {tuple(p) for p in json.load(f)}
        return {**paths, "expected": expected, "records": 2 * self.n_per_side}

    def run(self, spark, inp: dict, out: str):
        from pyspark_entity_resolution_spark.pipeline import run_er_pipeline
        from pyspark_entity_resolution_spark.sources.io import write_csv

        stages = run_er_pipeline(spark, inp["a"], inp["b"])
        write_csv(stages["entities"], out)
        return stages["matches"]

    def traced(self, spark, inp: dict, out: str, tr: Tracer):
        """``run_er_pipeline``'s composition, one layer at a time."""
        from pyspark_entity_resolution_spark.operators import blocking, matching
        from pyspark_entity_resolution_spark.operators.clustering import cluster_matched_pairs
        from pyspark_entity_resolution_spark.operators.resolve import (
            entity_table, pick_representatives)
        from pyspark_entity_resolution_spark.pipeline import ERConfig, prepare_publications
        from pyspark_entity_resolution_spark.sources.io import prefix_columns, write_csv

        cfg = ERConfig()
        l, r = cfg.left_name, cfg.right_name
        with tr.layer("prepare"):
            with tr.call():
                left = prepare_publications(spark, inp["a"], cfg)
                right = prepare_publications(spark, inp["b"], cfg)
            with tr.exec():
                left = left.localCheckpoint(eager=True)
                right = right.localCheckpoint(eager=True)
        with tr.probe("prepare_rows"):
            tr.counts["prepare.rows_out"] = left.count() + right.count()
        with tr.layer("blocking"):
            with tr.call():
                keep = ["id", "index", "title", "authors", "year", "venue", "num_authors"]
                lp = prefix_columns(left.select(*keep), l)
                rp = prefix_columns(right.select(*keep), r)
                pairs = blocking.candidate_pairs(
                    lp, rp, left_id=f"{l}_id", right_id=f"{r}_id", venues=cfg.venues,
                    year_col_left=f"{l}_year", year_col_right=f"{r}_year",
                    venue_col_left=f"{l}_venue", venue_col_right=f"{r}_venue",
                    lower=cfg.year_lower, upper=cfg.year_upper, window=cfg.window)
            with tr.exec():
                tr.counts["blocking.candidates"] = pairs.count()
        with tr.layer("matching"):
            with tr.call():
                matched = matching.score_and_match(
                    pairs, left_prefix=l, right_prefix=r, venues=cfg.venues,
                    max_levenshtein=cfg.max_levenshtein, min_jaccard=cfg.min_jaccard)
            with tr.exec():
                matches = matched.localCheckpoint(eager=True)
        with tr.probe("matching_rows"):
            tr.counts["matching.rows_out"] = matches.count()
        with tr.layer("clustering"):
            with tr.call():
                clustered = cluster_matched_pairs(
                    matches, left_id=f"{l}_id", right_id=f"{r}_id",
                    left_name=l, right_name=r)
            with tr.exec():
                clustered = clustered.localCheckpoint(eager=True)
        with tr.probe("clustering_rows"):
            tr.counts["clustering.rows_out"] = clustered.count()
            tr.counts["clustering.components"] = (
                clustered.select("cluster_id").distinct().count())
        with tr.layer("resolve"):
            with tr.call():
                reps = pick_representatives(clustered)
                entities = entity_table(reps, raw_by_side={l: left, r: right}, sides=[l, r])
            with tr.exec():
                entities = entities.localCheckpoint(eager=True)
        with tr.probe("resolve_rows"):
            tr.counts["resolve.rows_out"] = entities.count()
        with tr.layer("io"):
            with tr.call():
                write_csv(entities, out)
        n_cand = tr.counts["blocking.candidates"]
        n_match = tr.counts["matching.rows_out"]
        tr.counts["clustering.edges_in"] = n_match
        tr.counts["matching.match_yield"] = n_match / n_cand if n_cand else 0.0
        tr.counts["io.rows_out"] = tr.counts["resolve.rows_out"]
        return matches

    def check(self, spark, inp: dict, matches, out: str, full: bool
              ) -> tuple[list[str], dict]:
        pairs = {(row[0], row[1]) for row in
                 matches.select("a_index", "b_index").collect()}
        return checks.check_er(pairs, _csv_rows(out), inp["expected"]), {}


# ------------------------------------------------------------- corpus --


class CorpusWorkload:
    """``prepare_training_corpus(cut_dup_spans_w=10)`` over a seeded parquet
    corpus, chunks written with ``write_parquet``."""

    def __init__(self, name: str, n_docs: int, why: str):
        self.name, self.n_docs, self.why = name, n_docs, why

    def prepare(self, cache: str, seed: int) -> dict:
        path, expected = gen.write_corpus_inputs(cache, seed, self.n_docs)
        return {"path": path, "expected": expected, "records": expected["input"]}

    def run(self, spark, inp: dict, out: str):
        from pyspark_entity_resolution_spark.operators.corpus import prepare_training_corpus
        from pyspark_entity_resolution_spark.sources.io import read_parquet, write_parquet

        docs = read_parquet(spark, inp["path"])
        stages = prepare_training_corpus(docs, cut_dup_spans_w=10)
        write_parquet(stages["chunks"], out)
        return docs, stages

    def traced(self, spark, inp: dict, out: str, tr: Tracer):
        """``prepare_training_corpus``'s composition, one layer at a time."""
        from pyspark.sql import functions as F

        from pyspark_entity_resolution_spark.operators import corpus
        from pyspark_entity_resolution_spark.operators.dedup import (
            minhash_lsh_candidates, minhash_lsh_dedup)
        from pyspark_entity_resolution_spark.operators.substring_dedup import cut_spans
        from pyspark_entity_resolution_spark.sources.io import read_parquet, write_parquet

        id_col, text_col = "doc_id", "text"
        docs = read_parquet(spark, inp["path"])
        with tr.layer("corpus"):
            with tr.call():
                gated = corpus.quality_gate(docs, text_col)
                exact = corpus.drop_exact_duplicates(gated, id_col, text_col)
            with tr.exec():
                exact = exact.localCheckpoint(eager=True)
        with tr.probe("corpus_rows"):
            tr.counts["corpus.rows_out"] = exact.count()
        with tr.layer("dedup"):
            with tr.call():
                near = corpus.drop_near_duplicates(exact, id_col, text_col)
            with tr.exec():
                near = near.localCheckpoint(eager=True)
        with tr.probe("dedup_yield"):
            tr.counts["dedup.rows_out"] = near.count()
            n_cand = minhash_lsh_candidates(exact, id_col, text_col).count()
            n_verified = minhash_lsh_dedup(exact, id_col, text_col).count()
            tr.counts["dedup.verify_yield"] = n_verified / n_cand if n_cand else 0.0
        with tr.layer("substring_dedup"):
            with tr.call():
                rewritten = cut_spans(near, id_col, text_col, w=10).select(
                    F.col("id").alias(id_col), F.col("text").alias("__cut_text"))
                span_cut = (near.drop(text_col)
                            .join(rewritten, on=id_col, how="inner")
                            .withColumnRenamed("__cut_text", text_col))
            with tr.exec():
                span_cut = span_cut.localCheckpoint(eager=True)
        with tr.probe("substring_rows"):
            tr.counts["substring_dedup.rows_out"] = span_cut.count()
        with tr.layer("corpus"):
            with tr.call():
                chunks = corpus.chunk_documents(span_cut, id_col, text_col)
        with tr.layer("io"):
            with tr.call():
                write_parquet(chunks, out)
        stages = {"gated": gated, "exact_deduped": exact, "near_deduped": near,
                  "span_cut": span_cut, "chunks": chunks}
        return docs, stages

    def check(self, spark, inp: dict, result, out: str, full: bool
              ) -> tuple[list[str], dict]:
        """Surviving ids, span-cut tokens and written chunk rows; with
        ``full``, also every ``corpus_funnel`` count (these re-run the
        unmaterialized gate and exact-dedup stages)."""
        from pyspark_entity_resolution_spark.operators.corpus import corpus_funnel

        docs, stages = result
        near = {r[0]: r[1] for r in stages["near_deduped"].select("doc_id", "text").collect()}
        cut = {r[0]: r[1] for r in stages["span_cut"].select("doc_id", "text").collect()}
        tokens_cut = (sum(len(t.split()) for t in near.values())
                      - sum(len(t.split()) for t in cut.values()))
        funnel = {"near_deduped": len(near), "span_cut": len(cut),
                  "chunks": _parquet_table(out).num_rows, "tokens_cut": tokens_cut}
        if full:
            counted = {r["stage"]: r["n"] for r in corpus_funnel(stages, docs).collect()}
            funnel.update({k: counted[k] for k in checks.FUNNEL_STAGES})
        problems = checks.check_corpus(funnel, list(near), inp["expected"])
        return problems, {"substring_dedup.tokens_cut": tokens_cut,
                          "io.rows_out": funnel["chunks"]}


# These sizes keep one run (JVM start, three session set-ups, a warm-up
# pass, three timed passes) near a minute on a 4-core host, so that two
# sets of ten runs per workload take well under an hour. Both workloads are
# bound by Spark driver and per-job overhead at these sizes, the regime the
# reference pipeline runs in (paper Table 2: 2.3-2.6k records/side).
WORKLOADS = {
    w.name: w for w in (
        ERWorkload(
            "er_reference", 1500,
            "AMiner ER, 1.5k records/side, SIGMOD/VLDB 1995-2004, N=3 (paper "
            "Table 2 at about half size): bound by driver, plan build and "
            "clustering rounds"),
        CorpusWorkload(
            "corpus_prep", 1500,
            "corpus prep of 1.5k docs with planted exact, near and boilerplate "
            "duplicates: the only workload that runs corpus, dedup and substring_dedup"),
    )
}
