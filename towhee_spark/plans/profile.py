"""Per-operator execution profiler — the Spark analogue of Towhee's
TimeProfiler (towhee/runtime/time_profiler.py:17-55: per-node queue-in /
process-in/out timestamps) and DataQueue tracing (runtime_pipeline.py:
170-177).

Where Towhee instruments its thread-per-node runtime by hand, Spark already
collects per-operator SQLMetrics (rows, time, spill, shuffle bytes) on every
executed plan; this module walks the executed SparkPlan tree over py4j after
an action and returns them as plain dicts — queryable, assertable in tests,
and attachable to lineage manifests.

Usage::

    from towhee_spark.plans.profile import profile_run
    prof = profile_run(df)            # runs df through the noop sink
    # [{'op': 'HashAggregate', 'metrics': {'number of output rows': ..,
    #   'time in aggregation build total ...': ..}, 'depth': 1}, ...]
"""

from __future__ import annotations

from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def _walk(jplan, depth: int, out: list[dict[str, Any]]) -> None:
    name = jplan.nodeName()
    metrics: dict[str, int] = {}
    try:
        it = jplan.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            metrics[str(metric.name().get() if metric.name().isDefined() else kv._1())] = int(
                metric.value()
            )
    except Exception:  # metric map shape varies by Spark minor — best effort
        pass
    out.append({"op": str(name), "depth": depth, "metrics": metrics})
    children = jplan.children()
    for i in range(children.size()):
        _walk(children.apply(i), depth + 1, out)
    # adaptive plans hide the real tree behind executedPlan (the final plan
    # once the query ran; finalPhysicalPlan is the same tree, and walking
    # both would count every node twice), and AQE query stages
    # (Shuffle/BroadcastQueryStage) wrap their materialized subtree behind
    # .plan() — descend through the first one the node has
    for attr in ("executedPlan", "plan"):
        try:
            inner = getattr(jplan, attr)()
        except Py4JError:  # the node has no such method
            continue
        _walk(inner, depth + 1, out)
        break


def plan_profile(df: DataFrame) -> list[dict[str, Any]]:
    """Per-operator (name, depth, SQLMetrics) rows for df's executed plan.
    Metrics are cumulative since the plan last ran — call after an action
    (or use profile_run to force one)."""
    out: list[dict[str, Any]] = []
    _walk(df._jdf.queryExecution().executedPlan(), 0, out)  # noqa: SLF001
    return out


def profile_run(df: DataFrame) -> list[dict[str, Any]]:
    """Force full execution of df's OWN plan instance, then return its
    per-operator metrics (rows flowed, per-operator times, shuffle / spill
    bytes where the operator reports them). A sink write would spawn a
    separate QueryExecution whose metrics this df never sees, so the plan
    is executed directly (count over its InternalRow RDD — no driver
    materialization of the rows themselves)."""
    jplan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    jplan.execute().count()
    return plan_profile(df)


def metric_total(prof: list[dict[str, Any]], metric_name: str) -> int:
    """Sum a named metric across all operators (e.g. 'number of output
    rows', 'spill size')."""
    return sum(p["metrics"].get(metric_name, 0) for p in prof)


def format_profile(prof: list[dict[str, Any]], top_metrics: int = 3) -> str:
    """Human-readable tree — the `p.profiler()` analogue for notebooks."""
    lines = []
    for p in prof:
        ms = sorted(p["metrics"].items(), key=lambda kv: -abs(kv[1]))[:top_metrics]
        mtxt = ", ".join(f"{k}={v:,}" for k, v in ms)
        lines.append(f"{'  ' * p['depth']}{p['op']}  {mtxt}")
    return "\n".join(lines)
