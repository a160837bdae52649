"""DuckDB ground truth for the graft product benchmark.

    python3 perfbench/oracle.py QUERIES.json RESULTS.json

QUERIES.json is a list of {"key": str, "sql": str}, each sql a parenthesised
scalar subquery (the OracleSql fingerprint twins). RESULTS.json maps each key
to the query's value as text.
"""

import json
import sys

import duckdb


def evaluate(queries_path, results_path):
    with open(queries_path) as f:
        queries = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out = {}
    for q in queries:
        v = con.execute(f"SELECT CAST({q['sql']} AS VARCHAR)").fetchone()[0]
        out[q["key"]] = "" if v is None else v
    with open(results_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    evaluate(sys.argv[1], sys.argv[2])
