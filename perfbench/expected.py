#!/usr/bin/env python3
"""Writes expected/<fixture>.json: the row count and digest of every query
that runs on perfbench/data/<fixture>, on a measured run or on --smoke,
computed once in DuckDB from SparkEntry.oracleSql. Rows-only queries
(workloads.ROWS_ONLY) have no SQL twin; their expected row count is taken
from one Spark run.

    python3 perfbench/expected.py
"""
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def plan():
    """{fixture: names of the queries that run on it}."""
    out = {}
    for scale in (run.SMOKE_SCALE, run.SCALE):
        for n in workloads.ANALYTICS_SCAN:
            out.setdefault(run.fixture(scale, n), []).append(n)
    return out


def main():
    cp = build.build()
    work = os.path.join(build.build_dir(), "work", "expected")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql_path = os.path.join(work, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Harness",
                    "--oracle-sql", sql_path], check=True, cwd=work)
    oracle = json.load(open(sql_path))
    for fx, names in sorted(plan().items()):
        data = os.path.join(run.DATA, fx)
        con = duckdb.connect()
        tables = sorted(os.listdir(data))
        for f in tables:
            # a table is one parquet file or a directory of them
            src = f"{data}/{f}/*.parquet" if os.path.isdir(f"{data}/{f}") else f"{data}/{f}"
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{src}'")
        out = {}
        for n in names:
            if n in workloads.ROWS_ONLY:
                continue
            rows, dig = check.digest(con, oracle[n])
            out[n] = {"rows": rows, "digest": dig}
        rows_only = [n for n in names if n in workloads.ROWS_ONLY]
        ops = [{"id": i, "name": n, "kind": "query"} for i, n in enumerate(rows_only)]
        spec = {"workload": "expected", "data": data, "work": work,
                "verify": os.path.join(work, "verify"), "seconds": 0,
                "trace": False, "cores": run.CORES,
                "tables": [os.path.join(data, f) for f in tables], "ops": ops}
        if ops:
            run.run_jvm(cp, spec, work, time.time() + run.TIMEOUT_S)
        for op in ops:
            sql = check.output_sql(spec["verify"], op["id"])
            rows = con.sql(sql).fetchall() if sql else []
            out[op["name"]] = {"rows": len(rows), "rows_only": True}
        with open(os.path.join(HERE, "expected", f"{fx}.json"), "w") as f:
            json.dump(dict(sorted(out.items())), f, indent=1)
            f.write("\n")
        print(f"{fx}: {len(out)} expected values")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
