"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.bench_work/``), builds a ``local[nproc/2]`` session, warms it up over a
tiny input, runs one untimed operation, then runs the workload in a closed
loop for ``--seconds`` and checks every output. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics from a
traced run (``--trace 1``); the line before it carries the details (input
sizes, session sizing, box probe, samples). Exits non-zero, without a
result line, when the package is missing or a metric got no value, and
non-zero after it when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
TRACED_PAIRS = 1  # untraced/traced operation pairs for the tracing overhead


def _session_env(nproc: int) -> dict:
    """Sizes the session to this machine and keeps every scratch file
    inside the checkout; returns what was set, for the output. Spark gets
    half the CPUs as task slots (and so at most that many Python workers):
    the driver JVM's JIT compiler and GC threads, the Python daemon and the
    benchmark itself need the rest, and with every CPU given to tasks the
    walls measured how the scheduler shared the machine."""
    slots = max(1, nproc // 2)
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    dirs = {d: os.path.join(WORK, d) for d in ("spark-local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM, the launcher's included: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # driver heap well below physical RAM: the machine may be shared
    os.environ["SPARK_DRIVER_MEMORY"] = f"{ram_mb // 4}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "master": f"local[{slots}]",
        "nproc": nproc,
        "slots": slots,
        "ram_mb": ram_mb,
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "python_workers_max": slots,
        "dirs": dirs,
    }


def _build_session(env: dict, workload: str, trace: bool):
    from logparserhelper_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": env["dirs"]["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['dirs']['tmp']}",
        "spark.python.worker.reuse": "true",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + env["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return build_session(parallelism=env["slots"], app_name=f"perfbench-{workload}",
                         extra_conf=conf)


def _traced(h, w, env: dict) -> tuple[dict, dict]:
    """The traced run: one untimed operation, then the workload's operation
    alternately with tracing off and on (spans plus the UDF profiler; the
    event log is on for both), then the layer ladder. Returns (per-layer
    metrics, details)."""
    from perfbench import sysprobe

    spark, tracer = h.spark, h.tracer
    h.attempt("untimed op", lambda: w.op()[1])
    walls: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    for traced in (False, True) * TRACED_PAIRS:
        tracer.enabled = traced
        if traced:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        got = h.repeat(0, "traced op" if traced else "untraced op", w.op, 1)
        for k, v in got.items():
            walls[traced].setdefault(k, []).extend(v)
    untraced, traced = walls[False], walls[True]
    out = w.layers(untraced)
    out["trace.overhead_s"] = statistics.median(traced["total"]) - statistics.median(untraced["total"])
    for layer, s in tracer.self_time_by_layer().items():
        out[f"self.{layer}_s"] = s
    spans_path = os.path.join(WORK, f"spans-{w.name}-{tracer.run_id}.json")
    tracer.dump(spans_path)
    sysprobe.stop_spark(spark)  # flushes the event log

    ops = [s for s in tracer.spans if s.name.startswith("op.")]

    def label_for(desc, t_ms):
        for s in ops:
            if s.epoch_ms <= t_ms <= s.epoch_ms + 1000 * (s.end - s.start):
                return "op"
        return desc if desc and desc.startswith("perfbench:") else "(other)"

    folded = sysprobe.fold_event_log(env["event_dir"], label_for)
    per_op = folded.get("op")
    if per_op:
        n = len(traced["total"])
        out["spark.shuffle_write_bytes"] = per_op["shuffle_write_bytes"] / n
        out["spark.spill_bytes"] = per_op["spill_bytes"] / n
        out["spark.task_s"] = per_op["task_s"] / n
        out["spark.tasks_failed"] = per_op["tasks_failed"] / n
    parse = folded.get("perfbench:pipeline.parse_write")
    if parse:
        out["spark.parse_task_skew"] = sysprobe.task_skew(parse)
    details = {
        "untraced_op_s": untraced,
        "traced_op_s": traced,
        "spans_file": os.path.relpath(spans_path, ROOT),
        "spans": len(tracer.spans),
        "jobs_by_label": {k: {kk: vv for kk, vv in v.items() if kk != "stage_task_s"}
                          for k, v in folded.items()},
    }
    return out, details


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "logparserhelper_spark")):
        print("perfbench: the logparserhelper_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import sysprobe
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Harness

    rss = sysprobe.PeakRss()
    env = _session_env(len(os.sched_getaffinity(0)))
    tracer = Tracer(enabled=False)
    env["event_dir"] = os.path.join(env["dirs"]["eventlog"], tracer.run_id)
    os.makedirs(env["event_dir"])
    h = Harness(WORK, tracer)
    w = WORKLOADS[args.workload](h)

    # excluded from setup_s: input generation, oracles, the box probe
    t0 = time.monotonic()
    prepared = w.prepare(args.seed)
    prepare_s = time.monotonic() - t0
    box_before = sysprobe.box_probe()
    excluded_s = time.monotonic() - t0

    from logparserhelper_spark.banks import get_compiled_bank, get_compiled_transforms
    from logparserhelper_spark.defaults import default_pattern_bank, default_transform_bank

    h.spark = _build_session(env, args.workload, bool(args.trace))
    get_compiled_bank(default_pattern_bank().spec())
    get_compiled_transforms(default_transform_bank().spec())
    t0 = time.monotonic()
    w.warm_up()
    warm_up_s = time.monotonic() - t0
    setup_s = sysprobe.process_age_s() - excluded_s

    if args.trace:
        metrics, details = _traced(h, w, env)
        names = spec["per_layer"]
    else:
        metrics, details = w.measure(args.seconds)
        sysprobe.stop_spark(h.spark)
        metrics["setup_s"] = setup_s
        names = spec["end_to_end"]
    box_after = sysprobe.box_probe()
    peak_rss_mb = rss.close()
    missing = [m["name"] for m in names if m["name"] not in metrics]

    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup_s": setup_s,
        "warm_up_s": warm_up_s,
        "prepare_s": prepare_s,
        "run_s": sysprobe.process_age_s(),
        "inputs": prepared,
        "session": {k: v for k, v in env.items() if k != "dirs"},
        "box_before": box_before,
        "box_after": box_after,
        "peak_rss_mb": peak_rss_mb,
        "failed_frac": h.failed / max(1, h.attempted),
        "failures": h.failures,
        "details": details,
    }, default=str))
    if missing:
        print(f"perfbench: the run produced no value for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in names
        },
    }
    print(json.dumps(result))
    left = sysprobe.descendants(os.getpid())
    if left:
        print(f"perfbench: child processes still running: {sorted(left)}", file=sys.stderr)
        return 1
    return 0 if h.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
