#!/usr/bin/env python3
"""Re-derives the pipeline workload's gate digests and confirms each gate's
output against its DuckDB oracle SQL on the same tables.

    python3 perfbench/confirm_digests.py [--write]

Builds like run.py, runs every pipeline gate once on the fixed pipeline
tables, compares each output with DuckDB's answer to the gate's oracle SQL
(columns sorted by name, rows sorted, values exact), and prints the
digests next to the recorded ones in perfbench/digests.json. With --write,
and only if every gate matches its oracle, the digests file is replaced.
Needs the duckdb and pyarrow Python modules; the benchmark itself does not.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    import duckdb
    import pyarrow.parquet as pq

    out = os.path.join(run.BENCH, ".work", "digests")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cp = run.classpath()
    subprocess.run(["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "perfbench.Main",
                    "--record-digests", out, "--work", out], check=True)
    con = duckdb.connect()
    for t in ["orders", "lineitem", "documents"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out}/tables/{t}.parquet/*.parquet'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    fresh = json.load(open(os.path.join(out, "digests.json")))
    recorded = json.load(open(os.path.join(run.BENCH, "digests.json")))
    ok = True
    for gate, sql in oracle.items():
        spark = pq.read_table(os.path.join(out, "outputs", gate))
        duck = con.sql(sql)
        same = canon(spark.column_names, [tuple(d.values()) for d in spark.to_pylist()]) == \
            canon(duck.columns, duck.fetchall())
        ok &= same
        print(f"{gate}: oracle {'PASS' if same else 'FAIL'}, digest {fresh[gate]}"
              f" (recorded {recorded.get(gate, 'none')})")
    if "--write" in sys.argv[1:]:
        if not ok:
            raise SystemExit("not writing: a gate disagrees with its oracle")
        shutil.copy(os.path.join(out, "digests.json"), os.path.join(run.BENCH, "digests.json"))
    shutil.rmtree(out, ignore_errors=True)
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
