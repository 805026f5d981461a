"""Benchmark of the narrative-KG engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

Workloads (one closed-loop client each; see README.md):
  build   the character-graph pipeline over a seeded narrative corpus
  query   a fixed mix of driver queries and a staged run with resume over
          a small seeded corpus

A run sets up once (JVM launch and session start, warm-up, input
generation), checks outputs, then repeats passes of the workload until
--seconds have passed (at least one pass). With --trace 1 it then makes
one more pass with tracing on and reports the per-layer metrics instead of
the end-to-end ones. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it
("perfbench: {...}") is the full report of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

import machine

# The compared timings are CPU seconds of the process tree (driver, JVM,
# Python workers), which leave out the CPU time the hypervisor steals: on
# a shared virtual machine the steal moves the wall times of one seed by
# more than the bounds. The wall-clock values are in the report line.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_cpu_s": "1/s",
    "op_cpu_p50_s": "s",
    "op_cpu_p75_s": "s",
    "peak_rss_mb": "MB",
}


def quartiles(values: list[float]) -> list[float]:
    if len(values) == 1:
        return values * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def spread(values: list[float]) -> dict:
    """Sample count, median and quartiles of a run's samples."""
    q1, med, q3 = quartiles(values)
    return {"n": len(values), "q1": q1, "median": med, "q3": q3,
            "values": values}


def warm_up(spark) -> None:
    """Start the Python workers and the Arrow path on a tiny corpus."""
    from renard_spark import corpus

    corpus.generate_documents(spark, 16, seed=0).write.format("noop").mode(
        "overwrite").save()


def set_up(workload):
    """Launch the JVM and start the session, warm up, make the inputs."""
    from tracing import tree_cpu_s

    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = machine.start_session()
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    workload.make_inputs(spark)
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1,
                   "inputs_s": t3 - t2, "wall_s": t3 - t0,
                   "cpu_s": tree_cpu_s() - c0}


def snapshot() -> dict:
    return {"cores": machine.cores(), "heap_mb": machine.heap_mb(),
            "loadavg_1m": os.getloadavg()[0],
            "steal_s": machine.steal_s()}


def measure(workload, spark, seconds: float, trace: bool):
    from tracing import PeakRss, Tracer

    run_id = uuid.uuid4().hex[:8]
    untraced = Tracer(spark, run_id, enabled=False)
    passes = []
    with PeakRss() as rss:
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(workload.run_pass(spark, untraced))
    traced = tracer = None
    if trace:
        tracer = Tracer(spark, run_id, enabled=True)
        traced = workload.run_pass(spark, tracer)
    return passes, rss.peak_mb, traced, tracer


def layer_metrics(workload, setup, passes, traced, tracer) -> dict:
    from tracing import EXTRA

    m = tracer.layer_metrics()
    m.update({name: 0.0 for name, _, _ in EXTRA})
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m.update(workload.layer_extras(passes, traced, tracer))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("renard_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(machine.ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}",
              file=sys.stderr)
        return 2
    shutil.rmtree(machine.WORK, ignore_errors=True)
    machine.configure()
    if args.workload == "build":
        from build import Build as workload_cls
    else:
        from query import Query as workload_cls
    workload = workload_cls(machine.WORK, args.seed)

    start = snapshot()
    try:
        spark, setup = set_up(workload)
        t0 = time.perf_counter()
        workload.prepare(spark)
        prepare_s = time.perf_counter() - t0
        passes, peak_mb, traced, tracer = measure(
            workload, spark, args.seconds, bool(args.trace))
        layers = (layer_metrics(workload, setup, passes, traced, tracer)
                  if args.trace else None)
    finally:
        machine.stop_jvm()
        shutil.rmtree(machine.WORK, ignore_errors=True)
    end = snapshot()

    runs = passes + ([traced] if traced else [])
    attempted = workload.check_ops + sum(p["ops"] for p in runs)
    failed = workload.check_failed + sum(p["failed"] for p in runs)
    latencies = [x for p in passes for x in p["latencies"]]
    op_cpu = [x for p in passes for x in p["cpu"]]
    _, cpu_p50, cpu_p75 = quartiles(op_cpu)
    _, p50, p75 = quartiles(latencies)
    e2e = {
        "setup_s": setup["cpu_s"],
        "throughput_per_cpu_s": workload.throughput(passes, "cpu"),
        "op_cpu_p50_s": cpu_p50,
        "op_cpu_p75_s": cpu_p75,
        "peak_rss_mb": peak_mb,
    }
    report = {
        "workload": args.workload, "seed": args.seed,
        "machine_start": start, "machine_end": end,
        "setup": setup,
        "prepare_s": prepare_s,
        "pass_s": spread([p["pass_s"] for p in passes]),
        "op_cpu_s": spread(op_cpu),
        "latency_s": spread(latencies),
        "wall": {"setup_s": setup["wall_s"],
                 "throughput_per_s": workload.throughput(passes, "latencies"),
                 "latency_p50_s": p50, "latency_p75_s": p75},
        "error_rate": failed / attempted,
        **workload.report(passes),
        "end_to_end": e2e,
    }
    if layers is not None:
        from tracing import per_layer_spec

        units = {name: unit for name, unit, _ in per_layer_spec()}
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        report["traced_pass_s"] = traced["pass_s"]
        report["trace_overhead_s"] = traced["pass_s"] - statistics.median(
            p["pass_s"] for p in passes)
        report["spans"] = len(tracer.spans)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print("perfbench: " + json.dumps(report), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
