#!/usr/bin/env python3
"""Assemble `lakebench/RECORD.json`, the benchmark's recorded numbers, from
the outputs of `spread.py`: for each workload one untraced set of seeds
(end-to-end metrics and their spread) and one traced set (per-layer
metrics, and the tracing overhead as traced minus untraced medians).

    python3 lakebench/spread.py --workload W --seeds 1-10 --out DIR/W.untraced.json
    python3 lakebench/spread.py --workload W --seeds 11-20 --out DIR/W.untraced.b.json
    python3 lakebench/spread.py --workload W --seeds 1-3 --trace 1 --out DIR/W.traced.json
    python3 lakebench/record.py DIR
"""
import json
import os
import statistics
import sys

import plan
import stats

HERE = os.path.dirname(os.path.abspath(__file__))

HELD_OUT_SEED = 9001

OP = {
    "ingest_cycle": "one table ingest: load, TypeMapping.ddlAsDataFrame, "
                    "Sinks.overwrite, row count, Sinks.append of one Audit row",
    "lake_query": "one query key: its function, then Verify.dumpKey writing the "
                  "full result as Parquet",
    "table_dml": "one commit: append, mergeInto, updateWhere, deleteWhere or "
                 "deleteWhereDV on DeltaLite or IcebergLite",
}

# which end-to-end figure each per-layer metric should move, on which
# workload; figures marked (report) are on the report line, not gated
LAYER_MAP = {
    "spark.analysis_s, spark.optimization_s, spark.planning_s, "
    "spark.codegen_compiles, spark.codegen_s":
        {"moves": ["latency_p50_s (report)", "ops_per_s"],
         "workloads": ["lake_query", "table_dml"], "barely": ["ingest_cycle"]},
    "spark.jobs, spark.stages, spark.job_wall_s, spark.driver_gap_s":
        {"moves": ["latency_p50_s (report)", "ops_per_s"], "workloads": ["table_dml"]},
    "spark.tasks, spark.task_s, spark.shuffle_write_bytes, spark.input_bytes, "
    "spark.output_bytes":
        {"moves": ["latency_p90_s (report)", "rows_per_s (report)"],
         "workloads": ["lake_query", "ingest_cycle"]},
    "sources.{delta,iceberg}.{append,merge,update,delete,dv_delete,read,maintenance}_s":
        {"moves": ["latency_p50_s (report)", "ops_per_s", "read_p50_s (report)"],
         "workloads": ["table_dml"]},
    "sources.{delta,iceberg}.{data_files_written,meta_files_written,bytes_written,"
    "rows_rewritten_per_row_changed}":
        {"moves": ["write_amp (report)", "space_amp (report)"], "workloads": ["table_dml"]},
    "cdc.changed_tables_s, model.load_s, model.type_map_s, ingest.overwrite_s, "
    "ingest.row_count_s, ingest.audit_append_s":
        {"moves": ["ops_per_s", "cycle_p50_s (report)", "rows_per_s (report)"],
         "workloads": ["ingest_cycle"]},
    "query.build_s, query.materialize_s, registry.<Name>.total_s":
        {"moves": ["latency_p50_s (report)", "ops_per_s"], "workloads": ["lake_query"]},
    "setup.session_s, setup.jit_s, setup.tables_s, setup.fixture_s":
        {"moves": ["setup_s", "heap_mb"], "workloads": list(plan.WORKLOADS)},
    "setup.postings_s, setup.vector_index_s, setup.shingle_bands_s":
        {"moves": ["none of the gated figures: a traced run builds these indexes "
                   "after its op loop, and the sampled keys use none of them"],
         "workloads": ["lake_query (traced runs only)"]},
}


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def workload_record(w, untraced, traced):
    runs = untraced["runs"]
    figs = [r["report"]["workload_figures"] for r in runs]
    fig_keys = [k for k in figs[0] if isinstance(figs[0][k], (int, float))
                and not isinstance(figs[0][k], bool)]
    rec = {
        "op": OP[w],
        "seeds": [r["seed"] for r in runs],
        "seconds": untraced["seconds"],
        "end_to_end": untraced["summary"],
        "report_figures_median": {k: med([f[k] for f in figs]) for k in fig_keys},
        "ops_per_run": {"min": min(f["samples"] for f in figs),
                        "median": med([f["samples"] for f in figs]),
                        "max": max(f["samples"] for f in figs)},
        "failed": sum(r["result"]["failed"] for r in runs),
        "cpu_steal_share_by_seed": {r["seed"]: round(r["report"]["cpu_steal_share"], 3)
                                    for r in runs},
    }
    if traced:
        t_runs = traced["runs"]
        rec["traced_seeds"] = [r["seed"] for r in t_runs]
        rec["per_layer_median"] = {
            k: med([r["report"]["per_layer"][k][0] for r in t_runs])
            for k in stats.PER_LAYER}
        overhead = {
            k: med([r["report"]["end_to_end"][k][0] for r in t_runs]) - v["median"]
            for k, v in untraced["summary"].items()}
        t_figs = [r["report"]["workload_figures"] for r in t_runs]
        for k in ("latency_p50_s", "latency_mean_s"):
            overhead[k] = med([f[k] for f in t_figs]) - rec["report_figures_median"][k]
        rec["tracing_overhead"] = overhead
        # traced runs also count the ops whose job split fails
        rec["traced_failed"] = sum(r["result"]["failed"] for r in t_runs)
    return rec


def main():
    d = sys.argv[1]
    pool = json.load(open(os.path.join(HERE, "pool.json")))
    out = {
        "what": "Numbers recorded with this benchmark on a 4-vCPU VM: untraced "
                "spreads per workload (the distance between the quartiles over "
                "the seeds, as a share of the median), one traced set's per-layer "
                "medians, and the tracing overhead (traced minus untraced medians).",
        "held_out_seed": HELD_OUT_SEED,
        "layer_map": LAYER_MAP,
        "lake_query_pool": {
            "file": "lakebench/pool.json",
            "keys": len(pool),
            "sampled": len(plan.load_pool()),
            "left_out_session_memo": sum(k["session_memo"] for k in pool),
            "registries": {r: len(ks) for r, ks in plan.by_registry(plan.load_pool()).items()},
            "max_ref_s": plan.MAX_REF_S,
            "min_per_registry": plan.MIN_PER_REGISTRY,
            "max_oracle_s": plan.MAX_ORACLE_S,
            "warmup_keys": [k["key"] for k in plan.warmup_keys()],
            "warmup_max_ref_s": plan.WARMUP_MAX_REF_S,
        },
        "plan": {"ingest_block_cycles": plan.INGEST_BLOCK,
                 "ingest_size_pairs": plan.SIZE_PAIRS, "dml_files": plan.DML_FILES,
                 "dml_range": plan.DML_RANGE,
                 "dml_merge_insert_share": plan.MERGE_INSERT_SHARE,
                 "dml_maintenance_every": plan.MAINTENANCE_EVERY},
        "workloads": {},
    }
    for w in plan.WORKLOADS:
        u = os.path.join(d, f"{w}.untraced.json")
        t = os.path.join(d, f"{w}.traced.json")
        if not os.path.exists(u):
            continue
        rec = workload_record(
            w, json.load(open(u)), json.load(open(t)) if os.path.exists(t) else None)
        # every other untraced set of the same code: its medians, and how far
        # each moved from the first set's, as a share of the first (positive
        # = worse, by the metric's direction)
        bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for f in sorted(os.listdir(d)):
            if f.startswith(f"{w}.untraced.") and f.endswith(".json") and \
                    f != f"{w}.untraced.json":
                other = json.load(open(os.path.join(d, f)))
                first = rec["end_to_end"]
                rec.setdefault("other_sets", {})[f.split(".")[2]] = {
                    "seeds": [r["seed"] for r in other["runs"]],
                    "end_to_end": other["summary"],
                    "median_worse_by": {
                        k: (v["median"] - first[k]["median"]) / first[k]["median"]
                        * (1 if better[k] == "lower" else -1)
                        for k, v in other["summary"].items()},
                    "failed": sum(r["result"]["failed"] for r in other["runs"]),
                    "cpu_steal_share_by_seed": {
                        r["seed"]: round(r["report"]["cpu_steal_share"], 3)
                        for r in other["runs"]}}
        out["workloads"][w] = rec
    with open(os.path.join(HERE, "RECORD.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
