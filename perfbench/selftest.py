"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Every workload must pass its checks, traced and untraced, and print
exactly the metrics ``BENCHMARK.json`` names; then one damaged output
per check family must make its check fail: a changed export row, a
dropped model row and a changed query row. Each case runs in its own
process (one Spark session per process, as in a benchmark run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.05


def _change_json_row(wl) -> None:
    """Rewrite one value of the first row of every JSON output."""
    make = wl._op

    def op(kind):
        o = make(kind)
        if kind == "json":
            run = o.run

            def damaged():
                files = run()
                with open(files[0]) as fh:
                    lines = fh.readlines()
                rec = json.loads(lines[0])
                rec["i64"] = (rec["i64"] or 0) + 1
                lines[0] = json.dumps(rec) + "\n"
                with open(files[0], "w") as fh:
                    fh.writelines(lines)
                return files
            o.run = damaged
        return o
    wl._op = op


def _drop_model_row(wl) -> None:
    wl.model.rows.pop(max(wl.model.rows))


def _change_query_row(wl) -> None:
    make = wl._op

    def op(kind):
        o = make(kind)
        if kind == "q01":
            run = o.run

            def damaged():
                columns, rows = run()
                first = list(rows[0])
                first[-1] = first[-1] + 1
                return columns, [tuple(first)] + [tuple(r) for r in rows[1:]]
            o.run = damaged
        return o
    wl._op = op


#: name -> (workload, trace, damage, expect the checks to pass)
CASES = {
    "export": ("export", False, None, True),
    "export_traced": ("export", True, None, True),
    "keyed_s3": ("keyed_s3", False, None, True),
    "keyed_s3_traced": ("keyed_s3", True, None, True),
    "export_row_changed": ("export", False, _change_json_row, False),
    "model_row_dropped": ("keyed_s3", False, _drop_model_row, False),
    "query_row_changed": ("export", False, _change_query_row, False),
}


def run_case(name: str) -> dict:
    sys.path.insert(0, HERE)
    import run as bench
    workload, trace, damage, _ = CASES[name]
    result, diag = bench.run(workload, seed=7, seconds=1, trace=trace,
                             scale=SCALE, corrupt=damage)
    return {"result": result, "errors": diag["errors"]}


def _expected_metrics(trace: bool) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--case":
        print(json.dumps(run_case(sys.argv[2])))
        return 0
    bad = 0
    for name, (_, trace, _, want_ok) in CASES.items():
        proc = subprocess.run([sys.executable, __file__, "--case", name],
                              capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(f"FAIL {name}: exit {proc.returncode}\n"
                  f"{proc.stderr[-2000:]}")
            bad += 1
            continue
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        res = out["result"]
        ok = res["correct"] and res["failed"] == 0
        problems = []
        if ok != want_ok:
            problems.append("checks passed" if ok else
                            f"checks failed: {out['errors'][:2]}")
        if want_ok and set(res["metrics"]) != _expected_metrics(trace):
            problems.append("metric names differ from BENCHMARK.json: "
                            f"{sorted(set(res['metrics']) ^ _expected_metrics(trace))}")
        status = "FAIL" if problems else "ok"
        bad += bool(problems)
        print(f"{status} {name}: attempted={res['attempted']} "
              f"failed={res['failed']} {'; '.join(problems)}")
    print("self-test " + ("FAILED" if bad else "passed"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
