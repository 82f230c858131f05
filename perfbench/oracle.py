#!/usr/bin/env python3
"""Oracle digests of the batch workload's query results.

A digest is the row count and SHA-256 of a query result, canonicalised
the way `tools/check.py` compares results: columns sorted by name,
values through `check.canon`, rows sorted. `oracle_digests.json` holds
the digest of every query's DuckDB oracle (`SparkEntry.oracleSql`) over
each fixed corpus in `data/`, keyed by corpus directory and query. A run
digests each query's Spark result the same way and compares.

The stored digests were computed once with this script. Recompute them
only when the corpora or a query's meaning change on purpose: run the
batch workload once (it writes the oracle SQL of its queries into its
run directory), then

    python3 perfbench/oracle.py <run dir>/oracle_sql.json
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
STORED = os.path.join(HERE, "oracle_digests.json")
TOOLS = os.path.join(os.path.dirname(HERE), "tools")


def digest(cols, rows):
    sys.path.insert(0, TOOLS)
    import check
    table = check.table_of(rows, cols)
    h = hashlib.sha256(json.dumps([sorted(cols), table]).encode()).hexdigest()
    return {"rows": len(table), "sha256": h}


def digest_parquet(path_glob):
    import duckdb
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM '{path_glob}'")
    return digest(rel.columns, rel.fetchall())


def stored():
    with open(STORED) as f:
        return json.load(f)


def main(oracle_sql_path):
    import duckdb
    with open(oracle_sql_path) as f:
        oracles = json.load(f)
    out = {}
    for corpus in sorted(os.listdir(DATA)):
        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(DATA, corpus, "*.parquet"))):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name, sql in sorted(oracles.items()):
            rel = con.sql(sql)
            out.setdefault(corpus, {})[name] = digest(rel.columns, rel.fetchall())
    with open(STORED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {sum(len(v) for v in out.values())} digests to {STORED}")


if __name__ == "__main__":
    main(sys.argv[1])
