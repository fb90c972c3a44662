"""DuckDB oracle check of the query workloads' result dumps.

Each query's untimed result (written by the JVM side as parquet) is
compared with its `SparkEntry.oracleSql` run by DuckDB over the same
generated tables, through the canonicalization of `tools/check.py`
(pandas round-trip, columns sorted by name, raw value strings, -0.0
normalized).
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(results_dir, data_dir, queries, root):
    """Return [(query, error)] for every query whose result differs."""
    sys.path.insert(0, os.path.join(root, "tools"))
    from check import canon  # the repo's own oracle canonicalization
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for q in queries:
        if q not in oracle:
            bad.append((q, "no oracle SQL for this query"))
            continue
        out = os.path.join(results_dir, q)
        if not os.path.isdir(out):
            bad.append((q, "no result was written"))
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
            exp = con.sql(oracle[q]).df()
        except Exception as e:  # a broken oracle or dump is a failed check
            bad.append((q, f"{type(e).__name__}: {e}"[:500]))
            continue
        if sorted(got.columns) != sorted(exp.columns):
            bad.append((q, f"columns {sorted(got.columns)} != oracle {sorted(exp.columns)}"))
            continue
        cg, ce = canon(got), canon(exp)
        if cg != ce:
            diff = next(((a, b) for a, b in zip(cg, ce) if a != b), None)
            bad.append((q, f"{len(cg)} vs {len(ce)} rows; first diff {diff}"[:500]))
    con.close()
    return bad
