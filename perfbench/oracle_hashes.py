"""Recompute expected.json (run as `python3 perfbench/run.py --make-expected`).

For each batch workload's tables: the tables' content hashes, and for each
of its queries the canonical hash of the DuckDB oracle's result
(`SparkEntry.oracleSql`, in the canonical form of tools/check_oracle.py).
Benchmark runs compare the engine's results with these, so the oracle runs
once here and never inside a timed run.
"""
import json
import os
import shutil


def oracle_sql(run, classpath, queries):
    work = os.path.join(run.BUILD, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "oracle.json")
    p = run.java(classpath, "perfbench.Main",
                 ["mode=oracle", f"queries={','.join(queries)}", f"out={out}"], work)
    if run.wait(p, 300) != 0:
        run.fail("could not dump the oracle SQL")
    sql = json.load(open(out))
    shutil.rmtree(work)
    return sql


def oracle_hashes(run, tables_dir, sql):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        p = os.path.join(tables_dir, f)
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM {src}")
    # GenScale writes events.ts as int64 nanos, which Tables.load also reads
    if con.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone()[0] == "BIGINT":
        con.execute("CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    "(make_timestamp(ts // 1000) AS ts) FROM "
                    f"'{os.path.join(tables_dir, 'events.parquet')}/*.parquet'")
    return {q: run.frame_hash(con.execute(s).fetchdf()) for q, s in sorted(sql.items())}


def main(run):
    classpath = run.build()
    by_data = {}
    for w in run.WORKLOADS.values():
        if "queries" in w:
            by_data.setdefault(w["data"], []).extend(w["queries"])
    dirs = {name: run.data(classpath, None, name) for name in by_data}
    sql = oracle_sql(run, classpath, sorted({q for qs in by_data.values() for q in qs}))
    expected = {
        "tables": {name: run.table_hash(d) for name, d in sorted(dirs.items())},
        "results": {name: oracle_hashes(run, dirs[name], {q: sql[q] for q in qs})
                    for name, qs in sorted(by_data.items())},
    }
    with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    run.log("wrote expected.json")
