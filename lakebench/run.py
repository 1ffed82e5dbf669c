#!/usr/bin/env python3
"""Run one workload of the lake benchmark.

    python3 lakebench/run.py --workload {ingest_cycle,lake_query,table_dml}
        --seed N --seconds S --trace {0,1}

Builds the program and the JVM driver from source (`build.py`), makes the
workload's inputs from the seed (`plan.py`), runs the driver in one JVM with
a `local[nproc]` Spark session, checks the outputs (`checks.py`) and prints
the metrics (`stats.py`). The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
untraced (`--trace 0`) or the per-layer metrics every workload exercises
traced (`--trace 1`).
The line before it reports every figure of the run by name.

`LAKEBENCH_SF_DIR` names the dataset (default: the sf0.1 directory that
TESTDATA.md lists). Every file a run writes stays under the build directory
(`build.build_dir()`) and is deleted when the run ends.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

import build
import checks
import plan as planmod
import stats



def default_sf_dir():
    """The sf0.1 dataset's directory, as the repo's TESTDATA.md lists it."""
    try:
        with open(os.path.join(build.ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
    except OSError:
        return None
    return m.group(1).rstrip("/") if m else None
SETUP_REPS = 3
JVM_TIMEOUT_S = 160
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, work):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx4g", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "org.apache.spark.lakebench.Main"])


def cpu_times():
    """(steal, total) jiffies of the machine, where /proc/stat exists: a
    host that takes CPU from this one shows up as steal."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=planmod.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sf_dir = os.environ.get("LAKEBENCH_SF_DIR") or default_sf_dir()
    if not sf_dir or not os.path.isdir(sf_dir):
        fail(f"dataset {sf_dir} not found")
    try:
        classes = build.build()
    except Exception as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.build_dir(), "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    seeded = planmod.make_plan(a.workload, a.seed)
    p = dict(seeded, workload=a.workload, seed=a.seed, seconds=a.seconds,
             trace=a.trace, sf_dir=sf_dir, work_dir=work,
             result=os.path.join(work, "result.json"),
             setup_reps=SETUP_REPS, cpus=os.cpu_count())
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(p, fh)

    log_file = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_times()
    t_jvm = time.time()
    try:
        with open(log_file, "w") as log:
            try:
                proc = subprocess.run(java_cmd(classes, work) + [plan_file],
                                      stdout=log, stderr=subprocess.STDOUT,
                                      timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"JVM driver ran past {JVM_TIMEOUT_S} s and was killed")
        steal1, total1 = cpu_times()
        if proc.returncode != 0:
            with open(log_file) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"JVM driver exited with {proc.returncode}")
        with open(p["result"]) as fh:
            res = json.load(fh)
        t_checks = time.time()

        oracle_s = {}
        if a.workload == "lake_query":
            bad = checks.check_lake(res, sf_dir, work, oracle_s)
        elif a.workload == "table_dml":
            bad = checks.check_dml(res, sf_dir, work, seeded["dml"]["ops"])
        else:
            bad = checks.check_ingest(res, sf_dir, work, seeded["ingest"]["cycles"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    phases = {"jvm_s": t_checks - t_jvm, "checks_s": time.time() - t_checks,
              "slowest_oracles_s": sorted(oracle_s.items(), key=lambda kv: -kv[1])[:3]}

    e2e, extra = stats.end_to_end(res)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": {k: [v, stats.END_TO_END[k]] for k, v in e2e.items()},
              "workload_figures": extra, "mismatches": bad,
              "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
              "phases": phases}
    if a.trace:
        layers, job_bad = stats.per_layer(res)
        bad += job_bad
        report["per_layer"] = {k: [v, stats.PER_LAYER[k]] for k, v in layers.items()}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in stats.GATED_LAYERS.items()}
    else:
        metrics = {k: {"value": v, "unit": stats.END_TO_END[k]} for k, v in e2e.items()}
    for key, why in bad:
        print(f"lakebench: MISMATCH {key}: {why}", file=sys.stderr)
    attempted = len(res["ops"])
    failed = len(bad)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
