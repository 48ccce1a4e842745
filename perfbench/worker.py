"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the environment it prepares (package on
``PYTHONPATH``, Spark temp dirs inside the checkout). Prints the result
object as the last line of standard output; diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time
import traceback

import metrics
import proctree
import spans as tracing
from workloads import WORKLOADS

SETUP_REPS = 4

E2E_UNITS = {"setup_s": "s", "round_s": "s", "round_cpu_s": "s"}
LAYER_UNITS = {
    "latency.op_p50_s": "s",
    **{name: "s/op" for name in tracing.SPAN_METRICS},
    **{name: "count/op" for name in tracing.COUNT_METRICS},
    "spark.jobs_per_op": "count/op",
    "spark.stages_per_op": "count/op",
    "spark.tasks_per_op": "count/op",
    "spark.failed_tasks": "count",
    "driver.cpu_s_per_op": "s/op",
    "session.start_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def setup(workload, workdir: str) -> tuple[object, list[float], float]:
    """Start the session and load the inputs ``SETUP_REPS`` times (each
    after stopping the previous session); returns the last session, each
    repetition's time and the first (cold JVM) session start."""
    from oaxaca_blinder_rs_spark.session import get_spark

    spark, times, cold_start = None, [], 0.0
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        if i == 0:
            cold_start = time.perf_counter() - t0
        workload.setup(spark, workdir)
        times.append(time.perf_counter() - t0)
    return spark, times, cold_start


@dataclasses.dataclass
class Sample:
    wall: float  # seconds
    cpu: float  # CPU seconds of the worker's process tree
    driver_cpu: float  # CPU seconds of this process


def run_op(op, label: str) -> Sample | None:
    """Run and time one operation, then check its output; ``None`` when it
    raised or failed a check."""
    tree0 = proctree.snapshot(os.getpid())
    c0 = time.process_time()
    t0 = time.perf_counter()
    try:
        out = op.call()
    except Exception:
        log(f"{label} {op.kind} raised:\n{traceback.format_exc()}")
        return None
    wall = time.perf_counter() - t0
    driver_cpu = time.process_time() - c0
    cpu, gone = proctree.cpu_between(tree0, proctree.snapshot(os.getpid()))
    errs = op.check(out)
    if errs:
        log(f"{label} {op.kind} failed checks: {errs}")
        return None
    log(f"{label} {op.kind} {wall:.3f}s, cpu {cpu:.3f}s" + (f", {gone} processes ended" if gone else ""))
    return Sample(wall, cpu, driver_cpu)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted; a run measures one round")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args(argv)

    workload = WORKLOADS[args.workload](args.seed)
    spark, setup_times, cold_start = setup(workload, args.workdir)
    log(f"setup reps {[round(t, 3) for t in setup_times]}, cold session start {cold_start:.3f}s")

    t0 = time.perf_counter()
    warmup_errors = workload.warmup()
    log(f"warm-up {time.perf_counter() - t0:.3f}s {warmup_errors or ''}")
    failed = 1 if warmup_errors else 0

    tracer = saved = counter = None
    if args.trace:
        tracer = tracing.Tracer()
        saved = tracing.install(tracer)
        counter = tracing.SparkJobCounter(spark.sparkContext)

    # exactly one round, however long it takes: a second round would be a
    # warm one, and the metrics would change meaning with the engine's speed
    samples: dict[str, list[Sample]] = {k: [] for k in workload.kinds}
    jobs = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    attempted = 0
    start = time.perf_counter()
    for op in workload.ops():
        attempted += 1
        if tracer is not None:
            tracer.op = attempted
            group = counter.start(attempted)
        sample = run_op(op, f"op {attempted}")
        if tracer is not None:
            for k, v in counter.finish(group).items():
                jobs[k] += v
        if sample is None:
            failed += 1
        else:
            samples[op.kind].append(sample)
    elapsed = time.perf_counter() - start
    if saved is not None:
        tracing.uninstall(saved)
    finish_errors = workload.finish()
    if finish_errors:
        failed += 1
        log(f"after the measured round: {finish_errors}")
    spark.stop()

    wall = {k: [x.wall for x in v] for k, v in samples.items()}
    cpu = {k: [x.cpu for x in v] for k, v in samples.items()}
    missing = [k for k, v in samples.items() if not v]
    everything = [x for v in wall.values() for x in v]
    tail = metrics.tail_percentile(everything)
    log(
        f"measured {elapsed:.3f}s, {attempted} ops, {failed} failed; per-kind medians "
        f"{ {k: round(v, 3) for k, v in metrics.kind_medians(wall).items()} }; tail "
        + (f"p{tail[0]}={tail[1]:.3f}s over {len(everything)} ops" if tail else
           f"undefined ({len(everything)} ops, needs {metrics.TAIL_BEYOND + 1})")
    )
    if missing:
        log(f"no successful sample for {missing}")
        failed = max(failed, 1)

    e2e = {}
    if not missing:
        e2e = {
            "setup_s": statistics.median(setup_times),
            "round_s": metrics.round_seconds(wall),
            "round_cpu_s": metrics.round_seconds(cpu),
        }
        log(f"e2e {json.dumps(e2e)}")
    if args.trace:
        log(f"spans {json.dumps([dataclasses.asdict(s) for s in tracer.spans])}")
        driver_cpu = sum(x.driver_cpu for v in samples.values() for x in v)
        values, units = layer_metrics(tracer, jobs, driver_cpu, attempted, cold_start), LAYER_UNITS
        if not missing:
            values["latency.op_p50_s"] = metrics.op_p50(wall)
    else:
        values, units = e2e, E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units if k in values},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def layer_metrics(tracer, jobs: dict[str, int], driver_cpu: float, ops: int, cold_start: float) -> dict[str, float]:
    per_op = 1.0 / max(ops, 1)
    values = {name: 0.0 for name in LAYER_UNITS}
    for name, total in (*tracer.self_times().items(), *tracer.counts.items()):
        values[name] = total * per_op
    values["spark.jobs_per_op"] = jobs["jobs"] * per_op
    values["spark.stages_per_op"] = jobs["stages"] * per_op
    values["spark.tasks_per_op"] = jobs["tasks"] * per_op
    values["spark.failed_tasks"] = float(jobs["failed_tasks"])
    values["driver.cpu_s_per_op"] = driver_cpu * per_op
    values["session.start_s"] = cold_start
    return values


if __name__ == "__main__":
    sys.exit(main())
