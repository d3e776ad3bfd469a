"""The status-store collector reads per-group metrics without running jobs."""

import json
import os
import time

from perfbench import run
from perfbench.status import StatusCollector, covered
from perfbench.workloads import Tracer


def _shuffle_job(spark):
    return spark.range(20000).selectExpr("id % 13 AS k").groupBy("k").count().collect()


def test_collector_is_job_neutral(spark):
    sc = spark.sparkContext
    collector = StatusCollector(sc)
    sc.setJobGroup("neutral-g", "test")
    t0 = time.time()
    _shuffle_job(spark)
    span = (t0, time.time())
    sc.setJobGroup("neutral-idle", "test")
    before = collector.job_count()
    for _ in range(3):
        m = collector.group_metrics("neutral-g", span)
    assert collector.job_count() == before
    assert m["jobs"] >= 1 and m["tasks"] >= 1
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0
    assert 0 < m["busy_s"] <= span[1] - span[0]
    assert m["max_task_s"] > 0
    assert collector.group_metrics("no-such-group")["jobs"] == 0


def test_tracer_attributes_jobs_to_layers(spark):
    tracer = Tracer(spark, "t-run")
    with tracer.root():
        with tracer.layer("first"):
            with tracer.call():
                df = spark.range(5000).selectExpr("id % 3 AS k").groupBy("k").count()
            with tracer.exec():
                df.collect()
        with tracer.probe("rows"):
            df.count()
        with tracer.layer("second"):
            with tracer.call():
                pass
    layers = tracer.layer_metrics(StatusCollector(spark.sparkContext))
    assert layers["first"]["jobs"] >= 1 and layers["second"]["jobs"] == 0
    assert layers["first"]["exec_s"] > 0
    assert 0 <= layers["first"]["idle_s"] <= layers["first"]["wall_s"]
    root = tracer.spans[0]
    assert all(s["run"] == "t-run" for s in tracer.spans)
    assert [s["parent"] for s in tracer.spans if s["kind"] == "layer"] == [0, 0]
    assert root["start"] <= min(s["start"] for s in tracer.spans)


def test_covered_merges_overlaps():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3)], 2, 10) == 1
    assert covered([], 0, 1) == 0


def test_benchmark_json_matches_runner():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    for m in spec["per_layer"]:
        metric = m["name"].split(".", 1)[1]
        assert m["unit"] == run.metric_unit(metric)
        assert m["better"] == run.metric_better(metric)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
