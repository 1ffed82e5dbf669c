"""Output checks of the lake benchmark, run after the timed region. Each
returns a list of (op or object name, reason) mismatches; every mismatch
counts as one failed op.

- lake_query: each dumped key against its oracle SQL run in DuckDB over the
  same Parquet, with the exact compare of `tools/localcheck.py` (column
  names, dtypes, then values after sorting rows by every column).
- table_dml: each table's final contents against an independent replay of
  the executed ops in DuckDB.
- ingest_cycle: row counts, one audit row per ingest, the changed sets the
  CDC rules give, and an empty re-check after every complete cycle.
"""
import glob
import os
import time

import duckdb

import plan as planmod
from plan import localcheck

ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")


def _con(sf_dir, tables, work):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_tables(got_t, want_t):
    """None when the two arrow tables are equal under the exact compare of
    tools/localcheck.py, else the reason they differ."""
    nested = localcheck.nested_cols(got_t) + localcheck.nested_cols(want_t)
    if nested:
        return f"nested column(s) {nested}"
    got, want = got_t.to_pandas(), want_t.to_pandas()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    got, want = localcheck.canon(got), localcheck.canon(want)
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return "dtype mismatch"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    return None if got.equals(want) else "value diff"


def check_lake(res, sf_dir, work, oracle_s):
    """`oracle_s` receives each key's oracle time in DuckDB."""
    bad = []
    con = _con(sf_dir, planmod.TABLES, work)
    for o in res["ops"]:
        key = o["name"]
        if not o["ok"]:
            bad.append((key, o.get("error", "dump failed")))
            continue
        try:
            files = glob.glob(os.path.join(res["dump_dir"], key, "*.parquet"))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
            t0 = time.time()
            want = con.execute(res["oracle_sql"][key]).fetch_arrow_table()
            oracle_s[key] = time.time() - t0
            why = compare_tables(got, want)
        except Exception as e:  # an oracle or dump that cannot be read
            why = f"{type(e).__name__}: {e}"
        if why:
            bad.append((key, why))
    return bad


def replay_dml(con, ops):
    """Apply `ops` to the DuckDB tables delta_t / iceberg_t, built from
    orders exactly as the JVM driver builds its source rows."""
    cols = ", ".join(ORDERS_COLS)
    con.execute("CREATE TABLE src_orders AS SELECT o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
                "FROM orders")
    for f in ("delta", "iceberg"):
        con.execute(f"CREATE TABLE {f}_t AS SELECT * FROM src_orders")

    def shifted(o):
        d = o["new_key"] - o["src_lo"]
        return (f"SELECT o_orderkey + {d} AS o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice, o_orderdate, o_orderpriority FROM src_orders "
                f"WHERE o_orderkey BETWEEN {o['src_lo']} AND {o['src_lo'] + o['n'] - 1}")

    for o in ops:
        t = o["fmt"] + "_t"
        k = o["kind"]
        if k == "append":
            con.execute(f"INSERT INTO {t} SELECT {cols} FROM ({shifted(o)})")
        elif k == "merge":
            con.execute(
                "CREATE OR REPLACE TEMP TABLE msrc AS "
                f"SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, "
                f"o_totalprice + 0.5 AS o_totalprice, o_orderdate, o_orderpriority "
                f"FROM src_orders WHERE o_orderkey BETWEEN {o['lo']} AND {o['hi']} "
                f"UNION ALL {shifted(o)}")
            con.execute(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM msrc)")
            con.execute(f"INSERT INTO {t} SELECT {cols} FROM msrc")
        elif k == "update":
            con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + 1.0, "
                        f"o_orderstatus = 'U' WHERE o_orderkey BETWEEN {o['lo']} AND {o['hi']}")
        else:
            con.execute(f"DELETE FROM {t} WHERE o_orderkey BETWEEN {o['lo']} AND {o['hi']}")


def check_dml(res, sf_dir, work, planned_ops):
    bad = [(o["name"], o.get("error", "failed")) for o in res["ops"] if not o["ok"]]
    con = _con(sf_dir, ["orders"], work)
    replay_dml(con, planned_ops[:len(res["ops"])])
    cols = ", ".join(ORDERS_COLS)
    for f, fin in res["finals"].items():
        got = f"SELECT {cols} FROM read_parquet('{fin['dump']}/*.parquet')"
        want = f"SELECT {cols} FROM {f}_t"
        n = con.execute(
            f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
            f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))").fetchone()[0]
        if n:
            bad.append((f"{f}.final", f"{n} rows differ from the replay"))
    return bad


def check_ingest(res, sf_dir, work, cycles):
    bad = [(o["name"], o.get("error", "failed")) for o in res["ops"] if not o["ok"]]
    con = _con(sf_dir, [], work)
    ingests = {}
    for c in res["cycles"]:
        for t in c["ingested"]:
            ingests[t] = ingests.get(t, 0) + 1
    failed = {o["name"] for o in res["ops"] if not o["ok"]}
    for t in sorted(set(ingests) - failed):
        raw = con.execute(f"SELECT count(*) FROM read_parquet('{res['raw_zone']}/{t}/*.parquet')"
                          ).fetchone()[0]
        src = con.execute(f"SELECT count(*) FROM read_parquet('{sf_dir}/{t}.parquet')"
                          ).fetchone()[0]
        if raw != src:
            bad.append((t, f"raw rows {raw} vs source {src}"))
    audit = dict(con.execute(
        f"SELECT table_name, count(*) FROM read_parquet('{res['audit_dir']}/*.parquet') "
        "GROUP BY table_name").fetchall())
    if audit != ingests:
        bad.append(("audit", f"audit rows {audit} vs ingests {ingests}"))
    for i, c in enumerate(res["cycles"]):
        if c["changed"] != cycles[i]["expect"]:
            bad.append((f"cycle{i}", f"changed {c['changed']} vs {cycles[i]['expect']}"))
        if c["complete"] and c["recheck"] != 0:
            bad.append((f"cycle{i}", f"re-check found {c['recheck']} changed tables"))
    return bad
