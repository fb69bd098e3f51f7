"""Steadiness record: runs the benchmark on distinct seeds and reports,
per workload and end-to-end metric, the median, the quartiles and the
spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), plus the
tracing overhead (traced against untraced medians of the same metrics).

    python3 perfbench/steady.py --runs 10 --traced 3 --out perfbench/STEADINESS.json

Each run is a separate process with the benchmark's own command line.
Spreads above a tenth are listed under ``wide``; none is dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: "
                           f"{proc.stderr[-1500:]}")
    return {"seed": seed, "trace": trace, "wall_s": time.time() - t0,
            "diag": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def summarize(spec: dict, runs: list[dict]) -> dict:
    out = {}
    for wl in spec["workloads"]:
        name = wl["name"]
        plain = [r for r in runs if r["diag"]["workload"] == name
                 and r["trace"] == 0]
        traced = [r for r in runs if r["diag"]["workload"] == name
                  and r["trace"] == 1]
        row = {"metrics": {}, "wide": [], "overhead": {},
               "all_correct": all(r["result"]["correct"]
                                  for r in plain + traced),
               "run_wall_s": spread([r["wall_s"] for r in plain])
               if len(plain) > 1 else None}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"]
                    for r in plain]
            if len(vals) < 2:
                continue
            s = spread(vals)
            s["bound"] = m["bound"]
            s["values"] = vals
            row["metrics"][m["name"]] = s
            if s["spread"] > 0.1:
                row["wide"].append(m["name"])
            tvals = [r["diag"]["end_to_end"][m["name"]] for r in traced]
            if tvals:
                row["overhead"][m["name"]] = (
                    statistics.median(tvals) / s["median"] - 1.0)
        kinds, pooled = {}, {}
        for r in plain:
            for kind, k in r["diag"]["kinds"].items():
                kinds.setdefault(kind, []).append(k["median_s"])
            for kind, v in r["diag"]["samples"].items():
                pooled.setdefault(kind, []).extend(v)
        row["kind_medians_s"] = {k: spread(v) for k, v in kinds.items()
                                 if len(v) > 1}
        # every sample of every run, pooled: enough samples for a tail
        row["kind_samples_s"] = harness.summarize(pooled)
        out[name] = row
    return out


def write_record(path: str, spec: dict, summary: dict,
                 runs: list[dict]) -> None:
    host = {"nproc": os.cpu_count(),
            "finished": time.strftime("%Y-%m-%d %H:%M:%SZ", time.gmtime())}
    record = {"host": host, "run_seconds": spec["run_seconds"],
              "summary": summary,
              "runs": [{"seed": r["seed"], "trace": r["trace"],
                        "wall_s": r["wall_s"],
                        "workload": r["diag"]["workload"],
                        "host": r["diag"]["host"],
                        "setup_phases": r["diag"]["setup_phases"],
                        "end_to_end": r["diag"]["end_to_end"],
                        "samples": r["diag"]["samples"],
                        "result": r["result"], "kinds": r["diag"]["kinds"]}
                       for r in runs]}
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workloads:
        spec["workloads"] = [w for w in spec["workloads"]
                             if w["name"] in args.workloads]
    runs = []
    for wl in spec["workloads"]:
        for i in range(args.runs + args.traced):
            seed = args.first_seed + i
            trace = int(i >= args.runs)
            r = one_run(wl["name"], seed, spec["run_seconds"], trace)
            runs.append(r)
            print(f"{wl['name']} seed={seed} trace={trace} "
                  f"wall={r['wall_s']:.1f}s "
                  f"correct={r['result']['correct']}", flush=True)
            summary = summarize(spec, runs)
            if args.out:  # rewritten after every run: partial records stay
                write_record(args.out, spec, summary, runs)
    for name, row in summary.items():
        for m, s in row["metrics"].items():
            flag = " WIDE" if s["spread"] > 0.1 else ""
            print(f"{name:9s} {m:14s} median={s['median']:.4g} "
                  f"spread={s['spread']:.3f} bound={s['bound']}{flag}")
        for m, o in row["overhead"].items():
            print(f"{name:9s} {m:14s} tracing overhead={o:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
