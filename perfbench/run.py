"""Data-plane benchmark for vanus_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: subscription_replay, delivery_retry_stream, corpus_curation
(see perfbench/README.md). With ``--trace 0`` the run measures the named
workload untraced and prints its end-to-end metrics; with ``--trace 1``
it runs the workload's traced pass (spans, Spark event log, per-tick
state; delivery_retry_stream's also traces corpus_curation) and prints
the per-layer metrics. Human-readable lines
come first; the last line of stdout is one JSON object. The full record
(machine sample, spans, per-tick state) is written to
``perfbench/_work/record.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402


def _workloads():
    from perfbench.curation import Curation
    from perfbench.delivery import Delivery
    from perfbench.replay import Replay

    return {w.name: w for w in (Replay, Delivery, Curation)}


def _check_engine() -> None:
    """Fail fast, before any JVM starts, when the engine is absent."""
    for pkg in ("vanus_spark", "pyspark"):
        try:
            __import__(pkg)
        except ImportError as e:
            sys.stderr.write(f"perfbench: cannot import {pkg}: {e}\n")
            sys.exit(2)


def _environment(trace: bool) -> None:
    shutil.rmtree(harness.WORK, ignore_errors=True)
    tmp = os.path.join(harness.WORK, "tmp")
    os.makedirs(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = harness.spark_submit_args(trace)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _untraced(workload, seconds: float) -> tuple[dict, dict, list[str]]:
    """The timed repetitions of one workload. The bounded metrics are
    CPU-based (CPU seconds of the driver, JVM and Python workers), plus
    set-up and peak memory; wall-clock throughput and latency are
    printed and recorded beside them (see README.md)."""
    with harness.ProcessSampler() as sampler:
        spark, setups = harness.setup_sessions(workload.first_action)
        res = workload.measure(spark, seconds, sampler)
    items, window, ops = res["items"], res["window"], res["ops"]
    cpu = harness.summarize([o["cpu_s"] for o in ops])
    wall = harness.summarize([o["wall_s"] for o in ops])
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cpu_ms_per_item": (1000 * window["cpu_s"] / items, "ms"),
        "op_cpu_ms_p50": (1000 * cpu["p50"], "ms"),
        "op_cpu_ms_tail": (1000 * cpu["tail"], "ms"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
    }
    printed = {
        "throughput_per_s": (items / window["wall_s"], "1/s"),
        "op_ms_p50": (1000 * wall["p50"], "ms"),
        "op_ms_tail": (1000 * wall["tail"], "ms"),
        **res["named"],
    }
    lines = [f"{k} {v:.6g} {u}" for k, (v, u) in {**metrics, **printed}.items()]
    lines.insert(1, f"  set-up times (s): {', '.join(f'{t:.3f}' for t in setups)}")
    lines.insert(3, f"  item = one {res['item_name']}; {items} items in {window['wall_s']:.3f} s wall")
    lines.insert(6, f"  op = one {res['op_name']}; n = {cpu['n']}; tail = p{cpu['tail_pct']}")
    record = {"setup_s": setups, "window": window, "ops": ops, "printed": printed,
              "detail": res["detail"], "notes": res["notes"]}
    return {"attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}, record, lines


# corpus_curation is not a bounded workload (see README.md); its layers
# are traced in the traced run of the other stateful loop
TRACED_WITH = {"delivery_retry_stream": ["corpus_curation"]}

# per-layer metrics every traced run reports, whatever the workload
GENERIC_UNITS = {
    "spark.jobs": "count", "spark.task_s": "s", "spark.gc_s": "s",
    "driver_gap_s": "s", "unattributed_s": "s", "trace.overhead_pct": "%",
    "jobs_per_op": "count",
}


def _traced(workload) -> tuple[dict, dict, list[str]]:
    """The traced pass of one workload (and of any workload traced with
    it): spans and Spark event log, then self time per span and each
    workload's own per-layer metrics."""
    spark, setups = harness.setup_sessions(workload.first_action)
    tracer = harness.Tracer(spark)
    runs = [workload] + [_workloads()[name](workload.seed) for name in TRACED_WITH.get(workload.name, [])]
    traced = []
    for w in runs:
        tracer.trace_id = w.name
        traced.append((w, *w.traced(spark, tracer)))
    harness.shutdown()  # also completes the event log
    harness.attribute(tracer.spans, harness.read_event_log(os.path.join(harness.WORK, "eventlog")))
    named, units, lines, attempted, failed, notes, extra = {}, {}, [], 0, 0, [], {}
    for w, w_named, w_info in traced:
        if "after_attribution" in w_info:
            w_named.update(w_info.pop("after_attribution")(tracer.spans))
        wr = harness.rollup(tracer.spans, w_info.pop("root"))
        parts = " + ".join(f"{k} {v:.3f}" for k, v in sorted(wr["layer_self_s"].items()))
        lines.append(f"  {w.name} traced wall {wr['wall_s']:.3f} s = {parts} "
                     f"+ unattributed {wr['unattributed_s']:.3f} s")
        named.update(w_named)
        units.update(w.units)
        attempted, failed = attempted + w_info.pop("attempted"), failed + w_info.pop("failed")
        notes += w_info.pop("notes", [])
        extra[w.name] = {"rollup": wr, **w_info}
    info, r = extra[workload.name], extra[workload.name]["rollup"]
    generic = {
        "spark.jobs": r["spark_jobs"],
        "spark.task_s": r["spark_task_s"],
        "spark.gc_s": r["spark_gc_s"],
        "driver_gap_s": r["driver_gap_s"],
        "unattributed_s": r["unattributed_s"],
        "jobs_per_op": r["spark_jobs"] / info["ops"],
    }
    if "untraced_s" in info:  # corpus_curation's pass is traced only
        generic["trace.overhead_pct"] = 100.0 * (r["wall_s"] / info["untraced_s"] - 1.0)
    metrics = {k: (v, GENERIC_UNITS[k]) for k, v in generic.items()}
    named = {k: (v, units[k]) for k, v in sorted(named.items())}
    lines = [f"{k} {v:.6g} {u}" for k, (v, u) in {**metrics, **named}.items()] + lines
    record = {"setup_s": setups, "named": named, "workloads": extra, "spans": tracer.spans, "notes": notes}
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, record, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_engine()
    workloads = _workloads()
    if args.workload not in workloads:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}\n")
        return 2
    _environment(bool(args.trace))
    machine_before = harness.machine_sample()
    t0 = time.time()
    w = workloads[args.workload](args.seed)
    try:
        result, record, lines = _traced(w) if args.trace else _untraced(w, args.seconds)
    finally:
        harness.shutdown()
    record["inputs"] = w.sizes
    correct = result["failed"] == 0
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark_threads": harness.CPUS, "run_wall_s": time.time() - t0,
        "machine": {"before": machine_before, "after": harness.machine_sample()},
        "result": result, "correct": correct,
    })
    with open(os.path.join(harness.WORK, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {os.cpu_count()} spark_threads {harness.CPUS}")
    for line in lines:
        print(line)
    ratio = result["failed"] / result["attempted"]
    print(f"failed_ops_ratio {ratio:.6g} ratio ({result['failed']} of {result['attempted']})")
    for note in record.get("notes") or []:
        print(f"  failure: {note}")
    print(f"correct {str(correct).lower()}")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
