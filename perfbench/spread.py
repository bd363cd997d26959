#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 over the median, quartiles as
statistics.quantiles(values, n=4) gives them) next to its bound.

    python3 perfbench/spread.py --workload curation --seeds 1-10

Runs one seed after another from the repository root; the result lines
of every run are appended to .bench_build/perfbench/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_path = os.path.join(ROOT, ".bench_build", "perfbench",
                            f"spread-{a.workload}.jsonl")
    values = {}
    for s in seeds(a.seeds):
        proc = subprocess.run(
            spec["command"] + ["--workload", a.workload, "--seed", str(s),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"seed {s}: exit {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out_path, "a") as f:
            f.write(json.dumps(dict(res, seed=s)) + "\n")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med
        print(f"{m['name']:>14}: median {med:.5g} {m['unit']}, spread "
              f"{spread:.3f} (bound {m['bound']}, {spread / m['bound']:.2f} of it)")


if __name__ == "__main__":
    main()
