"""Run the benchmark several times per workload and print every metric by
name with its unit: median, first and third quartile across runs, and the
quartile spread as a share of the median. Runs are independent processes;
no per-metric minimum or other value is ever merged across runs.

    python3 perfbench/report.py [--runs 10] [--traced 0] [--seed0 1]
                                [--workloads code_ingest,hub_skew]
                                [--jsonl results.jsonl]

Per workload it makes ``--runs`` untraced runs (end-to-end metrics) and then
``--traced`` traced runs (per-layer metrics), with seeds ``seed0, seed0+1,
...``; the run length is BENCHMARK.json's ``run_seconds``. The spread of each
end-to-end metric is compared with its bound, and with traced runs the
tracing overhead (median traced ``job_s`` minus median untraced ``job_s``) is
printed. Exits non-zero if any run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None
    err = proc.stderr.strip().splitlines()
    return {**json.loads(lines[-1]), "summary": err[-1] if err else ""}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--jsonl", help="also append every run's result here")
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for workload in args.workloads.split(","):
        medians = {}
        for trace, n_runs in ((0, args.runs), (1, args.traced)):
            runs = []
            for seed in range(args.seed0, args.seed0 + n_runs):
                res = one_run(workload, seed, spec["run_seconds"], trace)
                if res is None or not res["correct"]:
                    print(f"{workload} seed={seed} trace={trace}: FAILED", flush=True)
                    ok = False
                    continue
                runs.append(res)
                if args.jsonl:
                    with open(args.jsonl, "a") as f:
                        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, **res}) + "\n")
            if not runs:
                continue
            print(f"\n{workload}, trace={trace}: {len(runs)} runs")
            print(f"  {'metric':40s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
            for name, first in runs[0]["metrics"].items():
                vals = [r["metrics"][name]["value"] for r in runs]
                med = medians[name] = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
                spread = (q3 - q1) / med if med else 0.0
                flag = ""
                if name in bounds and name != "setup_s" and spread > bounds[name]:
                    flag, ok = "  > bound", False
                elif name in bounds and spread > bounds[name] / 3:
                    flag = "  > bound/3"
                print(f"  {name:40s} {first['unit']:6s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.3f}{flag}", flush=True)
        if "job_s" in medians and "tracing.job_s" in medians:
            print(f"  tracing overhead: {medians['tracing.job_s'] - medians['job_s']:.3f} s", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
