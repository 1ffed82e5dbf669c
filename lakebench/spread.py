#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's median and
spread: the distance between the first and third quartiles
(`statistics.quantiles(values, n=4)`) as a share of the median.

    python3 lakebench/spread.py --workload table_dml --seeds 1-10
        [--seconds S] [--trace 0] [--out runs.json]

`--seconds` defaults to BENCHMARK.json's run_seconds.

The run's full reports are kept in `--out` for the record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=str(json.load(open(
        os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))["run_seconds"]))
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {s} failed")
        report, last = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": s, "wall_s": time.time() - t0, "report": report,
                     "result": last})
        figs = report["workload_figures"]
        print(f"seed {s}: wall={runs[-1]['wall_s']:.1f}s failed={last['failed']} "
              f"samples={figs['samples']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()
                       if k in report["end_to_end"]), file=sys.stderr)
    summary = {}
    for k in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][k]["value"] for r in runs]
        if len(vals) >= 2 and statistics.median(vals):
            summary[k] = {"median": statistics.median(vals), "spread": spread(vals)}
    for k, v in summary.items():
        print(f"{k:40s} median {v['median']:.5g}  spread {v['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": a.seconds,
                       "trace": a.trace, "summary": summary, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
