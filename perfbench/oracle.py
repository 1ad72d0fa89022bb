"""DuckDB twins of the queries a workload checks.

Each twin is the library's own `SparkEntry.oracleSql` text, evaluated by
DuckDB over the generated parquet and written back to parquet; the JVM
then fingerprints twin and result with the same Spark function
(`Harness.checksum`). Twins are computed once per input directory and
twin SQL, outside every timing.
"""
import hashlib
import json
import os

import duckdb

TABLES = ("events",)


def twins(sql_file, data_dir, queries):
    """Write `<query>.parquet` for every query; returns the directory."""
    with open(sql_file) as f:
        sql = json.load(f)
    missing = [q for q in queries if q not in sql]
    if missing:
        raise SystemExit(f"no DuckDB twin for {', '.join(missing)}")
    key = hashlib.sha256(json.dumps([duckdb.__version__] + [sql[q] for q in queries])
                         .encode()).hexdigest()[:12]
    out = os.path.join(data_dir, f"twins-{key}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for q in queries:
        dst = os.path.join(out, f"{q}.parquet")
        tmp = f"{dst}.tmp{os.getpid()}"
        con.execute(f"COPY ({sql[q].strip().rstrip(';')}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, dst)
    open(os.path.join(out, "DONE"), "w").close()
    return out
