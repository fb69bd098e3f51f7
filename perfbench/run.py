"""Benchmark entry point.

    python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process: a Spark session at local[nproc],
the workload's seeded inputs, an untimed warmup, then whole cycles of
operations (a closed loop with one client) until ``--seconds`` have
passed. Every output is checked. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it holds the diagnostics: per-kind
medians, tail percentiles, sample counts and the host context.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("export", "keyed_s3")


def make_workload(name: str, spark, seed: int, work: str, scale: float,
                  tracer):
    if name == "export":
        from export import Export
        return Export(spark, seed, work, scale, tracer)
    from keyed import KeyedS3
    return KeyedS3(spark, seed, work, scale, tracer)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, corrupt=None) -> tuple[dict, dict]:
    """One benchmark run. Returns (result line, diagnostics).
    ``corrupt`` (self-test only) is called with the workload after set-up
    and may damage outputs to prove the checks catch it."""
    if not os.path.isdir(os.path.join(ROOT, "dataflowtemplates_spark")):
        raise SystemExit(f"engine sources not found under {ROOT}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{seed}-{os.getpid()}")
    harness.prepare_env(ROOT, work)
    load_before = harness._loadavg()
    cpu_before = harness.cpu_times()
    rss = harness.RssSampler().start()
    tracer = None
    if trace:
        from trace_layers import Tracer
        tracer = Tracer(workload)
        tracer.install_session_hooks()
    spark = harness.build_spark()
    phases = {"session_s": time.perf_counter() - T_START}
    wl = None
    try:
        if tracer is not None:
            tracer.attach(spark)
        wl = make_workload(workload, spark, seed, work, scale, tracer)
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - T_START - sum(
            phases.values())
        warm = harness.Stream()
        for op in wl.warmup():
            harness.run_op(op, warm)
        if corrupt is not None:
            corrupt(wl)
        setup_s = time.perf_counter() - T_START
        phases["warmup_s"] = setup_s - sum(phases.values())
        # a warmup operation whose check failed counts as a failure too
        stream = harness.Stream(attempted=warm.failed, failed=warm.failed,
                                errors=list(warm.errors))
        if tracer is not None:
            tracer.start_timed()
        t0 = time.perf_counter()
        cycles = harness.drive(wl, seconds, stream, tracer)
        measured_s = time.perf_counter() - t0
        for problem in wl.finish():
            stream.attempted += 1
            stream.failed += 1
            stream.errors.append(problem)
        host = harness.host_context(spark)
        layer = tracer.metrics() if tracer is not None else None
    finally:
        if tracer is not None:
            tracer.detach()
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        harness.stop_spark(spark)
        peak_rss_mb = rss.stop_mb()
        harness.remove_tree(work)
    host["loadavg_before"] = load_before
    host["loadavg_after"] = harness._loadavg()
    host["cpu_steal_pct"] = harness.steal_pct(cpu_before, harness.cpu_times())
    del host["loadavg"]

    e2e = harness.latency_metrics(stream.samples, wl.reads) \
        if stream.samples else {}
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = peak_rss_mb
    units = {"peak_rss_mb": "MB"}
    if tracer is not None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces",
                                  f"{workload}-seed{seed}.json"))
    else:
        metrics = {k: {"value": v, "unit": units.get(k, "s")}
                   for k, v in e2e.items()}
    diag = {"workload": workload, "seed": seed, "trace": int(trace),
            "cycles": cycles, "measured_s": measured_s,
            "kinds": harness.summarize(stream.samples),
            "samples": stream.samples, "warmup": warm.samples,
            "setup_phases": phases,
            "end_to_end": e2e, "errors": stream.errors, "host": host}
    result = {"correct": stream.failed == 0 and stream.attempted > 0,
              "attempted": stream.attempted, "failed": stream.failed,
              "metrics": metrics}
    return result, diag


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result, diag = run(args.workload, args.seed, args.seconds,
                       bool(args.trace))
    print(json.dumps(diag, sort_keys=True))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
