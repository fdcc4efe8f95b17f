"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same workload with spans and Spark job groups on
and prints the per-layer metrics instead. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is non-zero when any output check failed.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# A warm op during which the hypervisor stole more than this share of the
# host's CPU time ran in a degraded host window; see run_workload.
STEAL_MAX = 0.05

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_run_s": "s",
    "rows_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

# Printed by every traced run, 0 where a workload does not use the layer.
PER_LAYER = {
    "session.start_s": "s",
    "synth.gen_s": "s",
    "jvm.live_heap_mb": "MB",
    "pipelines.build_s": "s",
    "pipelines.build_jobs": "count",
    "functions.dedup.build_s": "s",
    "functions.dedup.build_jobs": "count",
    "functions.tokenize.build_s": "s",
    "functions.tokenize.build_jobs": "count",
    "functions.dedup.neardup_recall": "ratio",
    "functions.dedup.kept_frac": "ratio",
    "pipeline.jobs_per_request": "count",
    "pipeline.driver_s_per_request": "s",
    "lineage.write_s": "s",
    "lineage.write_job_s": "s",
    "lineage.verify_s": "s",
    "lineage.bytes_per_row": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_bytes": "B",
    "spark.shuffle_write_s": "s",
    "spark.fetch_wait_s": "s",
    "spark.exchanges": "count",
    "spark.sort_s": "s",
    "spark.spill_bytes": "B",
    "spark.codegen_s": "s",
    "kernels.python_nodes": "count",
    "kernels.python_rows": "count",
    "kernels.python_bytes": "B",
    "kernels.python_run_s": "s",
    "kernels.python_boot_s": "s",
    "trace.overhead_s": "s",
    "self.pipelines_s": "s",
    "self.functions.dedup_s": "s",
    "self.functions.tokenize_s": "s",
    "self.functions.packing_s": "s",
    "self.pipeline_s": "s",
    "self.lineage_s": "s",
    "self.spark_s": "s",
}
SPAN_LAYERS = ["pipelines", "functions.dedup", "functions.tokenize", "functions.packing",
               "lineage", "pipeline", "spark"]
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolation percentile (q in [0, 1])."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def op_spark_metrics(stores: harness.SparkStores, spans: list, t0: float, t1: float,
                     exec_before: int) -> dict[str, float]:
    """Spark's view of one traced op: its job groups' jobs, stages and
    tasks, and the SQL metrics of every execution the op started."""
    jobs_by_layer: dict[str, list[int]] = {}
    for s in spans:
        jobs_by_layer.setdefault(s.name, []).extend(stores.jobs_for_group(s.group))
    jobs = sorted({j for js in jobs_by_layer.values() for j in js})
    stages = [s for s in stores.stage_data(stores.stages_for_jobs(jobs))
              if str(s.status()) == "COMPLETE"]
    m: dict[str, float] = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.numCompleteTasks() for s in stages),
        "spark.task_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "spark.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "spark.driver_s": (t1 - t0) - harness.busy_seconds(stages, int(t0 * 1e3), int(t1 * 1e3)),
        "spark.task_skew": 0.0,
    }
    if stages:
        med, mx = stores.task_quantiles(max(stages, key=lambda s: s.executorRunTime()))
        m["spark.task_skew"] = mx / max(med, 1.0)

    def n_jobs(*layers: str) -> int:
        return len({j for la in layers for j in jobs_by_layer.get(la, [])})

    m["pipelines.build_jobs"] = n_jobs("pipelines")
    m["functions.dedup.build_jobs"] = n_jobs("functions.dedup")
    m["functions.tokenize.build_jobs"] = n_jobs("functions.tokenize", "functions.packing")

    nodes = stores.plan_nodes(exec_before)

    def total(metric: str, pred=lambda n: True) -> float:
        return sum(n.metrics.get(metric, 0.0) for n in nodes if pred(n))

    def is_python(n) -> bool:
        return n.name.startswith(PYTHON_NODES)

    m.update({
        "spark.exchanges": sum(1 for n in nodes if n.name == "Exchange"),
        "spark.shuffle_bytes": total("shuffle bytes written"),
        "spark.shuffle_write_s": total("shuffle write time"),
        "spark.fetch_wait_s": total("fetch wait time"),
        "spark.sort_s": total("sort time", lambda n: n.name == "Sort"),
        "spark.spill_bytes": total("spill size"),
        "spark.codegen_s": total("duration", lambda n: n.name.startswith("WholeStageCodegen")),
        "kernels.python_nodes": sum(1 for n in nodes if is_python(n)),
        "kernels.python_rows": total("number of output rows", is_python),
        "kernels.python_bytes": total("data sent to Python workers", is_python)
        + total("data returned from Python workers", is_python),
        "kernels.python_run_s": total("time to run Python workers", is_python),
        "kernels.python_boot_s": total("time to start Python workers", is_python)
        + total("time to initialize Python workers", is_python),
    })
    return m


def layer_row(stores: harness.SparkStores, wl, spans: list, t0: float, t1: float,
              exec_before: int, i: int) -> dict[str, float]:
    """Every per-layer value of one traced op."""
    row = op_spark_metrics(stores, spans, t0, t1, exec_before)
    for layer, v in harness.self_times(spans).items():
        row[f"self.{layer}_s"] = v
    dur: dict[str, float] = {}
    for s in spans:
        dur[s.name] = dur.get(s.name, 0.0) + s.end - s.start
    row["pipelines.build_s"] = dur.get("pipelines", 0.0)
    row["functions.dedup.build_s"] = dur.get("functions.dedup", 0.0)
    row["functions.tokenize.build_s"] = (dur.get("functions.tokenize", 0.0)
                                         + dur.get("functions.packing", 0.0))
    row["lineage.write_s"] = dur.get("lineage", 0.0)
    row.update(wl.layer_metrics(i))
    row["lineage.verify_s"] = row["lineage.write_s"] - row.get("lineage.write_job_s", 0.0)
    if "pipeline" in dur:  # one request per op
        row["pipeline.jobs_per_request"] = row["spark.jobs"]
        row["pipeline.driver_s_per_request"] = row["spark.driver_s"]
    return row


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: float = 1.0, driver_mem: str = harness.DRIVER_MEM) -> dict:
    """Set up, run one cold op, then warm ops for ``seconds``, then the
    run's output checks. With ``trace``, warm ops alternate untraced and
    traced, so the run also measures the tracing overhead. ``scale``
    multiplies the input size (1 is the benchmark's size).

    A warm op during which more than ``STEAL_MAX`` of the CPU time was
    stolen by the hypervisor (other tenants of the host) is set aside and
    the loop goes on, up to its time cap; the metrics use the other warm
    ops, or the set-aside ones if no other op ran. Steal comes from the
    host, not from the program, so this drops samples of a degraded host
    window without favouring any version of the code."""
    harness.host_env(driver_mem)
    import towhee_spark  # noqa: PLC0415

    if not os.path.abspath(towhee_spark.__file__).startswith(harness.ROOT + os.sep):
        raise RuntimeError(f"towhee_spark imported from {towhee_spark.__file__}, "
                           f"not from {harness.ROOT}")
    from workloads import WORKLOADS  # noqa: PLC0415

    probe = harness.host_speed_probe()
    cpu0 = harness.cpu_sample()
    t0 = time.perf_counter()
    spark = harness.start_spark(f"perfbench-{name}")
    session_s = time.perf_counter() - t0
    tracer = harness.Tracer(sc=spark.sparkContext)
    stores = harness.SparkStores(spark)
    wl = WORKLOADS[name](spark, seed, tracer, scale)
    errors: list[str] = []
    attempted = failed = 0
    lat: list[float] = []  # untraced warm ops
    thr: list[float] = []
    stolen: list[tuple[float, float, float]] = []  # (latency, rows/s, steal share)
    traced_lat: list[float] = []
    layer_rows: list[dict[str, float]] = []
    phases: dict[str, float] = {"session": session_s}
    cold = rss = None

    def one_op(i: int, traced: bool, timed: bool = True) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        tracer.enabled, tracer.op_id = traced, i
        exec_before = stores.last_execution_id() if traced else -1
        a, t, cpu_a = time.time(), time.perf_counter(), harness.cpu_sample()
        try:
            rows = wl.op(i)
        except Exception:  # noqa: BLE001
            failed += 1
            errors.append(f"op {i} raised:\n{traceback.format_exc()}")
            return None
        finally:
            tracer.enabled = False
        dt, b = time.perf_counter() - t, time.time()
        steal = harness.cpu_pcts(cpu_a, harness.cpu_sample())["steal_pct"] / 100
        if traced:
            layer_rows.append(layer_row(stores, wl, tracer.op_spans(i), a, b, exec_before, i))
        op_errors = wl.check_op(i)
        if op_errors:
            failed += 1
            errors.extend(op_errors)
            return None
        if traced:
            traced_lat.append(dt)
        elif timed and steal > STEAL_MAX:
            stolen.append((dt, rows / dt, steal))
        elif timed:
            lat.append(dt)
            thr.append(rows / dt)
        return dt

    try:
        tracer.enabled = trace
        t = time.perf_counter()
        wl.setup()
        phases["setup"] = time.perf_counter() - t
        cold = one_op(0, False, timed=False)
        for i in range(1, 1 + wl.warmup_ops):
            one_op(i, False, timed=False)
        phases["cold_and_warmup"] = time.perf_counter() - t - phases["setup"]
        first = i = 1 + wl.warmup_ops
        need = 2 if trace else 1  # warm ops before the loop may stop
        with harness.RssSampler(harness.jvm_pid(spark),
                                live_heap=harness.live_heap_reader(spark)) as rss:
            start = time.perf_counter()
            while True:
                one_op(i, trace and i % 2 == 0)
                elapsed = time.perf_counter() - start
                enough = lat and (traced_lat or not trace)
                if i - first + 1 >= need and (elapsed >= seconds and enough
                                              or elapsed >= 2 * seconds):
                    break
                i += 1
        if not lat:  # every warm op ran in a degraded window: keep them
            lat, thr = [x[0] for x in stolen], [x[1] for x in stolen]
        t_check = time.perf_counter()
        phases["warm_loop"] = t_check - start
        run_errors = wl.check_run()
        phases["check_run"] = time.perf_counter() - t_check
        if run_errors:
            failed += 1
            attempted += 1
            errors.extend(run_errors)
    except Exception:  # noqa: BLE001
        failed += 1
        attempted += 1
        errors.append(traceback.format_exc())
    finally:
        wl.close()
        t_stop = time.perf_counter()
        harness.stop_spark(spark)
        phases["stop"] = time.perf_counter() - t_stop
        cpu = harness.cpu_pcts(cpu0, harness.cpu_sample())

    metrics: dict[str, float] = {}
    counts: dict[str, int] = {}
    if lat and cold is not None and rss is not None:
        metrics = {
            "setup_s": session_s + phases["setup"],
            "cold_run_s": cold,
            "rows_per_s": statistics.median(thr),
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": percentile(lat, 0.9),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        counts = {"setup_s": 1, "cold_run_s": 1, "rows_per_s": len(thr),
                  "latency_p50_s": len(lat), "latency_p90_s": len(lat), "peak_rss_mb": 1}
    layer: dict[str, float] = {}
    spans_path = ""
    if trace and layer_rows:
        spans_path = os.path.join(harness.WORK, f"spans_{name}_{seed}.jsonl")
        with open(spans_path, "w") as f:
            for sp in tracer.spans:
                f.write(json.dumps(dataclasses.asdict(sp)) + "\n")
        layer = {k: 0.0 for k in PER_LAYER}
        layer["session.start_s"] = session_s
        layer["synth.gen_s"] = sum(s.end - s.start for s in tracer.spans if s.name == "synth")
        layer["jvm.live_heap_mb"] = rss.peak_live_heap_bytes / 2**20 if rss else 0.0
        for k in layer:
            vals = [r[k] for r in layer_rows if k in r]
            if vals:
                layer[k] = statistics.median(vals)
        if lat and traced_lat:
            layer["trace.overhead_s"] = statistics.median(traced_lat) - statistics.median(lat)
    return {"workload": name, "seed": seed, "errors": errors, "attempted": attempted,
            "failed": failed, "metrics": metrics, "counts": counts, "layer": layer,
            "host": {"speed_probe_s": probe, **cpu}, "phases": phases,
            "latencies": lat, "stolen": stolen, "spans_path": spans_path}


def report(res: dict, trace: bool) -> dict:
    name = res["workload"]
    print(f"# workload {name} seed {res['seed']}: host speed probe "
          f"{res['host']['speed_probe_s']:.3f} s, cpu user {res['host']['user_pct']:.1f}% "
          f"sys {res['host']['sys_pct']:.1f}% steal {res['host']['steal_pct']:.1f}%")
    print("# phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases"].items()))
    print("# warm op latencies (s): " + " ".join(f"{x:.3f}" for x in res["latencies"]))
    if res["stolen"]:
        print("# set aside, host steal over {:.0%} (s, steal): ".format(STEAL_MAX)
              + " ".join(f"{x[0]:.3f} {x[2]:.1%}" for x in res["stolen"]))
    for e in res["errors"]:
        print(f"# CHECK FAILED: {e}")
    ff = res["failed"] / max(1, res["attempted"])
    print(f"# failed_frac {ff:.4f} ({res['failed']} of {res['attempted']} ops)")
    if trace:
        units = PER_LAYER
        for k, unit in units.items():
            print(f"# {k} = {res['layer'].get(k, 0.0):.6g} {unit}")
        selfs = {la: res["layer"].get(f"self.{la}_s", 0.0) for la in SPAN_LAYERS}
        top = max(selfs, key=selfs.get)
        print(f"# largest self time per op: {top} ({selfs[top]:.3f} s)")
        print(f"# spans: {res['spans_path']}")
        out = {k: {"value": res["layer"].get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        for k, unit in END_TO_END.items():
            if k in res["metrics"]:
                print(f"# {k} = {res['metrics'][k]:.6g} {unit} (n={res['counts'][k]})")
        out = {k: {"value": res["metrics"][k], "unit": u}
               for k, u in END_TO_END.items() if k in res["metrics"]}
    correct = not res["errors"] and bool(res["metrics"]) and (not trace or bool(res["layer"]))
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": out}


def main() -> int:
    from workloads import WORKLOADS  # noqa: PLC0415

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (README.md: sizing)")
    ap.add_argument("--driver-mem", default=harness.DRIVER_MEM,
                    help="Spark driver heap, e.g. 2g")
    args = ap.parse_args()
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            rc |= subprocess.run([sys.executable, __file__, "--workload", w,
                                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                                  "--trace", str(args.trace), "--scale", str(args.scale),
                                  "--driver-mem", args.driver_mem]).returncode
        return rc
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                       args.scale, args.driver_mem)
    out = report(res, bool(args.trace))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
