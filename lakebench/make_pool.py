"""Regenerate `lakebench/pool.json`, the `lake_query` key pool.

The pool is every key of the read-only registries that has an oracle and
does not write (the JVM driver's `--list-pool`), each with
- `ref_s`: its time as a key's first execution in one session on sf0.1,
  the larger of two probes that run the keys in different orders; it
  picks the short keys and each registry's shortest keys (`plan.load_pool`);
- `oracle_s`: its oracle's time in DuckDB on sf0.1 (interrupted after
  ORACLE_CAP_S where DuckDB allows): the output check runs it after every
  run that executes the key, so a slow oracle would eat the run's time
  budget;
- `session_memo`: whether it builds or reuses a session memo (a session
  index, or a memoized dedup cluster relation). Those keys stay out of the
  runs: the indexes take tens of seconds to build at sf0.1, more than a
  run's set-up can afford, and a key that built one lazily would charge
  the build to whichever key came first.

    python3 lakebench/make_pool.py [sf_dir]
"""
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import duckdb

import build
import checks
import plan
import run

HERE = os.path.dirname(os.path.abspath(__file__))


PROBE_ORDERS = (0, 1)
ORACLE_CAP_S = 10.0


def probe(classes, sf_dir, order):
    raw = os.path.join(build.build_dir(), f"pool_raw_{order}.json")
    subprocess.run(run.java_cmd(classes, build.build_dir())
                   + ["--list-pool", raw, sf_dir, str(order)], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return raw


def merge(raws):
    """One entry per key: the largest first-execution time over the probes
    (a key that ran faster after some other key warmed a shared cache ranks
    by its slower run) and the memo mark of any probe."""
    by_key = {}
    for raw in raws:
        for k in json.load(open(raw)):
            e = by_key.setdefault(k["key"], {"key": k["key"], "registry": k["registry"],
                                             "ref_s": 0.0, "session_memo": False})
            e["ref_s"] = max(e["ref_s"], round(k["cold_s"], 4))
            e["session_memo"] = e["session_memo"] or k["session_memo"]
    return sorted(by_key.values(), key=lambda k: k["key"])


def oracle_times(classes, sf_dir, keys):
    """{key: seconds its oracle takes in DuckDB}, interrupted at ORACLE_CAP_S."""
    out = os.path.join(build.build_dir(), "oracles.json")
    subprocess.run(run.java_cmd(classes, build.build_dir()) + ["--oracles", out],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    sql = json.load(open(out))
    con = checks._con(sf_dir, plan.TABLES, build.build_dir())
    times = {}
    for k in keys:
        timer = threading.Timer(ORACLE_CAP_S, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            con.execute(sql[k]).fetch_arrow_table()
            times[k] = round(time.time() - t0, 4)
        except duckdb.InterruptException:
            times[k] = ORACLE_CAP_S
        finally:
            timer.cancel()
    return times


def main():
    classes = build.build()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else run.default_sf_dir()
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        pool = merge([probe(classes, sf_dir, o) for o in PROBE_ORDERS])
        times = oracle_times(classes, sf_dir, [k["key"] for k in pool])
        for k in pool:
            k["oracle_s"] = times[k["key"]]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "pool.json"), "w") as fh:
        json.dump(pool, fh, indent=1)
        fh.write("\n")
    print(f"{len(pool)} keys, {sum(k['session_memo'] for k in pool)} "
          "use a session memo", file=sys.stderr)


if __name__ == "__main__":
    main()
