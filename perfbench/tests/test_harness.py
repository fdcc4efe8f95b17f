import json
import os
from types import SimpleNamespace

import pytest

import harness
import run


@pytest.mark.parametrize("text,kind,value", [
    ("1,000", "sum", 1000.0),
    ("0.0 B", "size", 0.0),
    ("16.2 MiB", "size", 16.2 * 2**20),
    ("total (min, med, max (stageId: taskId))\n960.0 B (240.0 B, 240.0 B, 240.0 B "
     "(stage 1.0: task 5))", "size", 960.0),
    ("7 ms", "timing", 0.007),
    ("total (min, med, max (stageId: taskId))\n1.3 s (0 ms, 4 ms, 7 ms (stage 1.0: task 6))",
     "nsTiming", 1.3),
    ("2.1 m", "timing", 126.0),
])
def test_parse_metric(text, kind, value):
    assert harness.parse_metric(text, kind) == pytest.approx(value)


def test_thousand_input_rows_read_as_thousand(spark):
    """Each plan node is counted once. (plans.profile.metric_total walks
    an adaptive plan's executedPlan and finalPhysicalPlan both, so it
    reports this scan as 2,000 rows.)"""
    from pyspark.sql import functions as F

    stores = harness.SparkStores(spark)
    before = stores.last_execution_id()
    (spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
     .write.format("noop").mode("overwrite").save())
    nodes = stores.plan_nodes(before)
    scans = [n for n in nodes if n.name == "Range"]
    assert len(scans) == 1
    assert scans[0].metrics["number of output rows"] == 1000
    assert sum(1 for n in nodes if n.name == "Exchange") == 1


def test_live_heap_counts_cached_data(spark):
    read = harness.live_heap_reader(spark)
    gc = spark.sparkContext._jvm.java.lang.System.gc  # noqa: SLF001
    gc()
    before = read()
    df = spark.range(2_000_000).selectExpr("id", "cast(id * 7 as string) s").cache()
    df.count()
    gc()
    assert read() - before > 10 * 2**20
    df.unpersist(blocking=True)


def test_job_groups_attribute_jobs_to_spans(spark):
    tracer = harness.Tracer(sc=spark.sparkContext, enabled=True, op_id=7)
    with tracer.span("outer"):
        spark.range(10).collect()
        with tracer.span("inner"):
            spark.range(10).collect()
            spark.range(10).collect()
    stores = harness.SparkStores(spark)
    outer, inner = tracer.op_spans(7)
    assert len(stores.jobs_for_group(outer.group)) == 1
    assert len(stores.jobs_for_group(inner.group)) == 2
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def _span(idx, name, start, end, parent):
    return harness.Span(idx, name, start, end, parent, 0, "")


def test_self_times_subtract_children():
    spans = [_span(3, "a", 0.0, 10.0, None), _span(4, "b", 1.0, 4.0, 3),
             _span(5, "b", 5.0, 6.0, 3), _span(6, "c", 2.0, 3.0, 4)]
    assert harness.self_times(spans) == pytest.approx({"a": 6.0, "b": 3.0, "c": 1.0})


def _stage(a, b):
    t = lambda v: SimpleNamespace(isDefined=lambda: v is not None,  # noqa: E731
                                  get=lambda: SimpleNamespace(getTime=lambda: v))
    return SimpleNamespace(submissionTime=lambda: t(a), completionTime=lambda: t(b))


def test_busy_seconds_is_the_union_of_stage_intervals():
    stages = [_stage(1000, 3000), _stage(2000, 4000), _stage(6000, 7000), _stage(None, None)]
    assert harness.busy_seconds(stages, 0, 10_000) == pytest.approx(4.0)
    assert harness.busy_seconds(stages, 2500, 6500) == pytest.approx(2.0)


def test_percentile():
    assert run.percentile([1.0], 0.9) == 1.0
    assert run.percentile([float(i) for i in range(11)], 0.9) == pytest.approx(9.0)


def test_benchmark_json_matches_the_metrics_run_prints():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
