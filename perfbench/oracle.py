#!/usr/bin/env python3
"""Recompute perfbench/oracle_digests.json.

    python3 perfbench/oracle.py

Runs every workload query's registered oracle SQL (`Registry.oracleSql`)
in DuckDB over the input tables (perfbench/data) and stores, per query, the SQL, its
row count and the digest of its canonical form (`canon.digest`), plus the
fingerprint of the tables. `run.py` compares each run's outputs against
these digests and refuses to run on tables with another fingerprint.
"""
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import canon  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    cp = run.build()
    queries = sorted({q for w in run.workloads().values() for q in w["queries"]})
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run([run.java(), "-cp", cp, "perfbench.OracleSql",
                    ",".join(queries), sql_file], check=True)
    sqls = run.load_json(sql_file)
    con = duckdb.connect()
    for t in run.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, t)}.parquet')")
    out = {}
    for q in queries:
        t0 = time.time()
        df = con.execute(sqls[q]).df()
        out[q] = {"digest": canon.digest(df), "rows": len(df), "sql": sqls[q]}
        print(f"{q:<28} {len(df):>7} rows {time.time() - t0:7.2f} s",
              file=sys.stderr)
    doc = {"fingerprint": run.fingerprint(), "queries": out}
    with open(os.path.join(run.HERE, "oracle_digests.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
