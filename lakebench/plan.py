"""Seeded inputs of the lake benchmark. Every workload's op sequence is a
pure function of (workload, seed): the JVM driver receives only what
`make_plan` returns, and the output checks replay the same plan.

The sequences are longer than any run consumes; a run stops at its
deadline and reports how many ops it executed."""
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the repo's oracle compare (tools/localcheck.py), which checks.py uses too
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import localcheck  # noqa: E402

# the dataset's tables: graft.model.Tables.names, in the program's order
TABLES = localcheck.TABLES

# ingest_cycle: logical clock of the pipeline, in microseconds
BASE_US = 1_700_000_000_000_000
HOUR_US = 3_600_000_000
INGEST_CYCLES = 400
INGEST_BLOCK = 2   # cycles over which every table changes once
P_NULL = 0.10      # chance of a NULL update_time (the reference's skip rule)
# the tables paired by size (largest first, by their sf0.1 Parquet files):
# each cycle of a block ingests one table of every pair, so the two cycles
# cost about the same, and the cycle with lineitem, which alone is over
# half the data, comes first
SIZE_PAIRS = [("lineitem", "orders"), ("events", "embeddings"),
              ("documents", "customer"), ("part", "supplier"),
              ("nation", "region")]

# lake_query: the pool's keys that use no session memo and whose oracle
# takes at most MAX_ORACLE_S in DuckDB. Of those, every key up to MAX_REF_S
# seconds (the short keys whose time is mostly fixed per-query cost), and
# at least the MIN_PER_REGISTRY shortest keys of every registry, so the
# registries whose keys are all slower are sampled too
MAX_REF_S = 0.6
MAX_ORACLE_S = 2.0
MIN_PER_REGISTRY = 2
# the JVM warm-up before the timed region: the shortest memo-free key of
# every registry that has one left outside the sample, up to WARMUP_MAX_REF_S
# seconds. Without it the timed region is mostly the JVM's own JIT
# compilation, which competes with the query's tasks for the cores and made
# runs of the same keys spread by more than a quarter. Every sampled key
# still runs once, as its first execution in the session.
WARMUP_MAX_REF_S = 1.0

# table_dml. The sizes come from the commits of the repo's own format keys
# (src/main/scala/graft/sources/FormatQueries.scala) on the same orders
# table, whose o_orderkey is dense in [0, ORDERS_KEYS) at sf0.1:
# - DML_RANGE: the key range every commit touches. 800 keys is the range the
#   format keys delete most often (deleteWhere / deleteWhereDV(1, 800) in
#   x_delta_cdf, x_delta_sql_read, x_iceberg_sql_read, x_delta_sql_read_dv,
#   x_iceberg_sql_read_mor); appends add that many renumbered rows.
# - MERGE_INSERT_SHARE: a merge updates DML_RANGE matched keys and inserts
#   half as many new ones, the 2:1 matched-to-inserted source of
#   x_iceberg_merge (even keys matched, keys = 3 mod 4 inserted).
# - DML_FILES: the tables start as four contiguous key quarters, one file
#   each, the layout x_delta_skipping and x_iceberg_optimize give orders
#   (they commit it as four appends, here it is one commit);
#   rewriteDataFiles compacts back to that many (targetFiles = 4 in
#   x_iceberg_sort_order).
# - MAINTENANCE_EVERY: checkpoint and compaction after every 10 commits,
#   Delta Lake's default checkpoint interval (delta.checkpointInterval);
#   no format key gives a cadence.
ORDERS_KEYS = 150_000
DML_RANGE = 800
MERGE_INSERT_SHARE = 0.5
DML_FILES = 4
DML_OPS = 2000
MAINTENANCE_EVERY = 10
DML_KINDS = ("append", "merge", "update", "delete", "dv_delete")

WORKLOADS = ("ingest_cycle", "lake_query", "table_dml")


def load_pool():
    """The keys `lake_query` samples (see the constants above), from
    pool.json (see make_pool.py)."""
    with open(os.path.join(HERE, "pool.json")) as fh:
        usable = [k for k in json.load(fh)
                  if not k["session_memo"] and k["oracle_s"] <= MAX_ORACLE_S]
    keep = {k["key"] for k in usable if k["ref_s"] <= MAX_REF_S}
    for ks in by_registry(usable).values():
        keep.update(k["key"] for k in ks[:MIN_PER_REGISTRY])
    return [k for k in usable if k["key"] in keep]


def warmup_keys():
    """The keys the `lake_query` set-up runs before its timed region (see
    WARMUP_MAX_REF_S): none of them is in `load_pool()`."""
    with open(os.path.join(HERE, "pool.json")) as fh:
        keys = [k for k in json.load(fh) if not k["session_memo"]]
    sampled = {k["key"] for k in load_pool()}
    left = [k for k in keys if k["key"] not in sampled]
    return [{"key": ks[0]["key"], "registry": r}
            for r, ks in sorted(by_registry(left).items())
            if ks[0]["ref_s"] <= WARMUP_MAX_REF_S]


def by_registry(keys):
    """{registry: its keys, shortest reference time first}."""
    out = {}
    for k in sorted(keys, key=lambda k: (k["ref_s"], k["key"])):
        out.setdefault(k["registry"], []).append(k)
    return out


def ingest_plan(rng):
    """Cycles of (table, update_time) catalogs with the changed set the CDC
    rules must return. Cycle 0 finds every table never ingested. Later
    cycles come in blocks of INGEST_BLOCK: the seed deals each of the
    SIZE_PAIRS over the block's two cycles, so every block ingests every
    table once in cycles of about equal cost; a table that does not change
    gets a NULL update_time (seeded, P_NULL) or one older than its last
    ingest."""
    cycles, last_exec = [], {}
    plan_changes = [list(TABLES)]
    while len(plan_changes) < INGEST_CYCLES:
        split = [list(p) if i == 0 or rng.random() < 0.5 else list(p)[::-1]
                 for i, p in enumerate(SIZE_PAIRS)]
        plan_changes += [[p[c] for p in split] for c in range(INGEST_BLOCK)]
    for c, changes in enumerate(plan_changes[:INGEST_CYCLES]):
        exec_us = BASE_US + (c + 1) * HOUR_US
        prev_exec = exec_us - HOUR_US
        catalog = []
        for t in TABLES:
            if t in changes:
                u = prev_exec + rng.randint(1, HOUR_US - 1)
                if t not in last_exec and rng.random() < P_NULL:
                    u = None  # never ingested: included even when NULL
            elif rng.random() < P_NULL:
                u = None
            else:
                u = last_exec[t] - rng.randint(0, HOUR_US)
            catalog.append([t, u])
        for t in changes:
            last_exec[t] = exec_us
        cycles.append({"exec_us": exec_us, "catalog": catalog,
                       "expect": sorted(changes)})
    return {"cycles": cycles}


def lake_plan(rng, pool):
    """Every pool key once, in rounds that take one unused key from every
    registry that has one left. The first round is every registry's
    shortest key, and a run does not stop before it is done, so every run
    reaches every registry. Every round runs the registries in one fixed
    order: the one with the slowest shortest key, then the fastest, then
    the second slowest and so on. A run's deadline cuts a round, and
    registries in a seeded order would put a different mix of heavy and
    light keys before the cut in every run. For the same reason the later
    rounds take each registry's other keys shortest first, in pairs of
    neighbours by reference time: the seed picks which key of a pair goes
    first."""
    regs = by_registry(pool)
    names = sorted(regs, key=lambda r: (regs[r][0]["ref_s"], regs[r][0]["key"]))
    fixed = []
    while names:
        fixed.append(names.pop())
        if names:
            fixed.append(names.pop(0))
    for ks in regs.values():
        for i in range(1, len(ks) - 1, 2):
            if rng.random() < 0.5:
                ks[i], ks[i + 1] = ks[i + 1], ks[i]
    order = []
    while any(regs.values()):
        order += [regs[r].pop(0) for r in fixed if regs[r]]
    return {"keys": [{"key": k["key"], "registry": k["registry"]} for k in order],
            "first_round": len(regs), "warmup": warmup_keys()}


def dml_plan(rng):
    """Commits alternating Delta and Iceberg, in blocks of 2 x len(DML_KINDS)
    commits: within a block each format gets every kind once, in the order
    of DML_KINDS, so every run commits the same kinds at the same places and
    a deadline cuts the same mix. The seed places each commit's DML_RANGE
    keys and picks the rows appends and merges insert. Key ranges are
    inclusive; appended and merge-inserted rows are orders rows renumbered
    above the table's largest key."""
    next_key = {"delta": ORDERS_KEYS, "iceberg": ORDERS_KEYS}
    ops = []
    while len(ops) < DML_OPS:
        for i in range(2 * len(DML_KINDS)):
            fmt = ("delta", "iceberg")[i % 2]
            kind = DML_KINDS[i // 2]
            o = {"fmt": fmt, "kind": kind}
            if kind in ("append", "merge"):
                n = DML_RANGE if kind == "append" else int(DML_RANGE * MERGE_INSERT_SHARE)
                o.update(src_lo=rng.randrange(ORDERS_KEYS - n), n=n,
                         new_key=next_key[fmt])
                next_key[fmt] += n
            if kind != "append":
                # merge matches rows of orders itself; the others may reach
                # appended keys
                top = ORDERS_KEYS if kind == "merge" else next_key[fmt]
                o["lo"] = rng.randrange(top - DML_RANGE)
                o["hi"] = o["lo"] + DML_RANGE - 1
            ops.append(o)
    return {"files": DML_FILES, "maintenance_every": MAINTENANCE_EVERY, "ops": ops}


def make_plan(workload, seed, pool=None):
    """The seeded part of a run's plan (no paths, no timing)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    if workload == "ingest_cycle":
        return {"ingest": ingest_plan(rng)}
    if workload == "lake_query":
        return {"lake": lake_plan(rng, pool if pool is not None else load_pool())}
    return {"dml": dml_plan(rng)}
