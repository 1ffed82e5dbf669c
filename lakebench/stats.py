"""The lake benchmark's arithmetic: percentiles with the sample rule,
interval unions, driver gap, span self time, and every metric computed
from one run's raw records (the JSON the JVM driver writes)."""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

FORMATS = ("delta", "iceberg")
DML_KINDS = ("append", "merge", "update", "delete", "dv_delete")
REGISTRIES = ("CdcQueries", "ReferenceSurface", "CoreQueries", "EventAnalytics",
              "StatsOps", "RecordLinkage", "OrderedOps", "SpatialOps", "GraphOps",
              "CorpusStats", "Retrieval", "LlmQueries", "TrainingSets",
              "FeatureOps", "Integrity")
SETUP_PARTS = ("jit", "tables", "fixture")
# the session index builds a traced lake_query run times after its op loop
INDEX_BUILDS = ("postings", "vector_index", "shingle_bands")
# listener event times are whole milliseconds of System.currentTimeMillis;
# op times are System.nanoTime mapped onto that clock once: a job may seem
# to start or end up to this much outside the op that ran it
JOB_CLOCK_TOL_MS = 2.0

# end-to-end metrics every workload reports, gated by BENCHMARK.json. A
# 15 s run holds 7 to 15 ops of mixed kinds, too few for a steady median
# and far too few for ten samples beyond p90, so the latencies go on the
# report line with their sample count, next to the workload-specific
# figures (cycle_p50_s, read_p50_s, rows_per_s, write_amp, space_amp).
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "heap_mb": "MB"}


def _per_layer_units():
    u = {}
    for m in ("analysis_s", "optimization_s", "planning_s", "codegen_s",
              "job_wall_s", "driver_gap_s", "task_s"):
        u["spark." + m] = "s"
    for m in ("codegen_compiles", "jobs", "stages", "tasks"):
        u["spark." + m] = "count"
    for m in ("shuffle_write_bytes", "input_bytes", "output_bytes"):
        u["spark." + m] = "bytes"
    for f in FORMATS:
        for k in DML_KINDS + ("read", "maintenance"):
            u[f"sources.{f}.{k}_s"] = "s"
        u[f"sources.{f}.data_files_written"] = "count"
        u[f"sources.{f}.meta_files_written"] = "count"
        u[f"sources.{f}.bytes_written"] = "bytes"
        u[f"sources.{f}.rows_rewritten_per_row_changed"] = "ratio"
    for m in ("cdc.changed_tables_s", "model.load_s", "model.type_map_s",
              "ingest.overwrite_s", "ingest.row_count_s",
              "ingest.audit_append_s", "query.build_s", "query.materialize_s"):
        u[m] = "s"
    for r in REGISTRIES:
        u[f"registry.{r}.total_s"] = "s"
    u["setup.session_s"] = "s"
    for p in SETUP_PARTS + INDEX_BUILDS:
        u[f"setup.{p}_s"] = "s"
    return u


# per-layer metrics, from the traced run; 0 where a workload never calls
# the layer. The result line carries the ones every workload exercises
# (GATED_LAYERS, listed in BENCHMARK.json): a layer a workload never calls
# would read exactly 0 on every run. The report line carries them all.
PER_LAYER = _per_layer_units()
GATED_LAYERS = {k: u for k, u in PER_LAYER.items()
                if k.startswith("spark.") or k in
                ["setup.session_s"] + [f"setup.{p}_s" for p in SETUP_PARTS]}


# ------------------------------------------------------------- arithmetic

def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """Samples strictly past the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def tail_ok(n, q=0.9, need=10):
    """The sample rule: at least `need` samples lie beyond the q-quantile."""
    return beyond(n, q) >= need


def union_length(intervals):
    """Total length covered by (start, end) intervals that may overlap."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def job_split(op_start, op_end, jobs):
    """(job wall, driver gap) of one op: the union of its job intervals
    clipped to the op, and the rest of the op's wall time. They sum to the
    op's wall time only while every job of the op lies inside it, which
    `job_mismatches` checks."""
    wall = op_end - op_start
    jw = union_length(clip(jobs, op_start, op_end))
    return jw, wall - jw


def job_mismatches(ops, jobs, tol_ms=JOB_CLOCK_TOL_MS):
    """The ops whose job split does not hold, as (op, reason): an op is
    named when a job tagged with it lies outside its interval, or when a
    job without an op tag runs while it is open."""
    spans = {o["id"]: (o["start_ms"], o["end_ms"]) for o in ops}
    outside, untagged = {}, {}
    for j in jobs:
        s, e = j["start_ms"], j["end_ms"]
        if j["tagged"]:
            lo, hi = spans.get(j["op"], (float("inf"), float("-inf")))
            if s < lo - tol_ms or e > hi + tol_ms:
                outside[j["op"]] = outside.get(j["op"], 0) + 1
        else:
            for i, (lo, hi) in spans.items():
                if s < hi - tol_ms and e > lo + tol_ms:
                    untagged[i] = untagged.get(i, 0) + 1
    return [(f"op{i}.jobs", f"{outside.get(i, 0)} tagged job(s) outside the op, "
             f"{untagged.get(i, 0)} untagged job(s) during it")
            for i in sorted(set(outside) | set(untagged))]


def loop_steps(ops, loop_end):
    """(start, end) of each successful op's step of the closed loop: from
    its start to the next op's start (or `loop_end`), so the work the loop
    does between ops (the read after a commit, maintenance, the CDC of the
    next cycle) belongs to the op before it."""
    ops = sorted(ops, key=lambda o: o["start_ms"])
    ends = [o["start_ms"] for o in ops[1:]] + [loop_end]
    return [(o["start_ms"], e) for o, e in zip(ops, ends) if o["ok"]]


def ops_in_window(ops, lo, hi):
    """Ops done in the window [lo, hi]: each (start, end) op counts with the
    share of its duration inside the window, so the op a deadline cuts
    counts in part and the count does not jump by one with the cut."""
    n = 0.0
    for s, e in ops:
        if e > s:
            n += max(0.0, min(e, hi) - max(s, lo)) / (e - s)
        elif lo <= s <= hi:
            n += 1
    return n


def self_times(spans):
    """{span id: duration minus the part its direct children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered = union_length(clip(kids.get(s["id"], []), s["start_ms"], s["end_ms"]))
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    """Every end-to-end metric of a run (the gated ones first), plus the
    workload-specific figures reported next to them."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ok] or [0.0]
    elapsed = (res["timed_end_ms"] - res["timed_start_ms"]) / 1000
    window = (res["timed_start_ms"], res["deadline_ms"])
    in_window = ops_in_window(loop_steps(ops, res["timed_end_ms"]), *window)
    m = {
        "setup_s": res["setup"]["setup_s"],
        "ops_per_s": in_window / ((window[1] - window[0]) / 1000),
        "heap_mb": res["setup"]["heap_mb"],
    }
    # the highest of these percentiles with ten samples beyond it
    q = next((q for q in (0.99, 0.9, 0.75) if tail_ok(len(lat), q)), 0.5)
    extra = {"samples": len(lat), "latency_p50_s": statistics.median(lat),
             "latency_mean_s": sum(lat) / len(lat),
             "latency_p90_s": percentile(lat, 0.9),
             "p90_has_10_beyond": tail_ok(len(lat)),
             "tail": {"q": q, "latency_s": percentile(lat, q)},
             "failed_ops_ratio": (len(ops) - len(ok)) / max(1, len(ops)),
             "slowest_ops": [[o["name"], round((o["end_ms"] - o["start_ms"]) / 1000, 3)]
                             for o in sorted(ok, key=lambda o: o["start_ms"] - o["end_ms"])[:3]],
             "ops_in_window": in_window}
    rows = sum(o.get("rows", 0) for o in ok)
    if "cycles" in res:
        cyc = [(c["end_ms"] - c["start_ms"]) / 1000 for c in res["cycles"] if c["complete"]]
        extra["cycle_p50_s"] = statistics.median(cyc) if cyc else None
        extra["rows_per_s"] = rows / elapsed
        extra["write_amp"] = res["bytes_written"] / max(1, res["user_bytes"])
    if "reads" in res:
        rd = [(r["end_ms"] - r["start_ms"]) / 1000 for r in res["reads"]]
        extra["read_p50_s"] = statistics.median(rd) if rd else None
        extra["rows_per_s"] = rows / elapsed
        written = sum(o.get("bytes_written", 0) for o in ok) + \
            sum(x["bytes_written"] for x in res["maintenance"])
        extra["write_amp"] = written / max(1.0, rows * res["orders_bytes_per_row"])
        fin = res["finals"].values()
        extra["space_amp"] = sum(f["disk_bytes"] for f in fin) / \
            max(1, sum(f["compact_bytes"] for f in fin))
    return m, extra


def per_layer(res):
    """Every per-layer metric of a traced run, plus the jobs that break the
    op split (`job_mismatches`): they are counted as failed ops."""
    ops = res["ops"]
    n_ops = max(1, len(ops))
    m = {k: 0.0 for k in PER_LAYER}
    jobs_by_op = {}
    for j in res.get("jobs", []):
        jobs_by_op.setdefault(j["op"], []).append((j["start_ms"], j["end_ms"]))
    jw_total = gap_total = 0.0
    for o in ops:
        jw, gap = job_split(o["start_ms"], o["end_ms"], jobs_by_op.get(o["id"], []))
        jw_total += jw
        gap_total += gap
    m["spark.job_wall_s"] = jw_total / 1000 / n_ops
    m["spark.driver_gap_s"] = gap_total / 1000 / n_ops
    eng = res.get("engine", {})
    op_ids = {str(o["id"]) for o in ops}

    def esum(f):
        return sum(v[f] for k, v in eng.items() if k in op_ids)
    for f in ("analysis", "optimization", "planning"):
        m[f"spark.{f}_s"] = esum(f + "_ms") / 1000 / n_ops
    m["spark.codegen_compiles"] = esum("codegen_compiles") / n_ops
    m["spark.codegen_s"] = esum("codegen_ns") / 1e9 / n_ops
    for f in ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes",
              "output_bytes"):
        m["spark." + f] = esum(f) / n_ops
    m["spark.task_s"] = esum("task_ms") / 1000 / n_ops

    # layer spans: mean self time per call
    selfs = self_times(res.get("spans", []))
    per_name = {}
    for s in res.get("spans", []):
        per_name.setdefault(s["name"], []).append(selfs[s["id"]] / 1000)
    for name, xs in per_name.items():
        if name + "_s" in m:
            m[name + "_s"] = _mean(xs)

    # table formats: files and bytes per commit, copy-on-write waste
    for f in FORMATS:
        commits = [o for o in ops if o.get("fmt") == f and o["ok"]]
        maint = [x for x in res.get("maintenance", []) if x["fmt"] == f]
        if not commits:
            continue
        for key, metric in (("data_files", "data_files_written"),
                            ("meta_files", "meta_files_written"),
                            ("bytes_written", "bytes_written")):
            m[f"sources.{f}.{metric}"] = (sum(o[key] for o in commits) +
                                          sum(x[key] for x in maint)) / len(commits)
        dml = [o for o in commits if o["kind"] != "append"]
        changed = sum(o["changed"] for o in dml)
        if changed:
            m[f"sources.{f}.rows_rewritten_per_row_changed"] = \
                sum(o.get("rows_rewritten", 0) for o in dml) / changed

    for r in REGISTRIES:
        xs = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops
              if o.get("registry") == r and o["ok"]]
        m[f"registry.{r}.total_s"] = _mean(xs)

    setup = res["setup"]
    m["setup.session_s"] = setup["session_s"]
    for p in SETUP_PARTS:
        xs = setup["parts"].get(p)
        m[f"setup.{p}_s"] = statistics.median(xs) if xs else 0.0
    return m, job_mismatches(ops, res.get("jobs", []))
