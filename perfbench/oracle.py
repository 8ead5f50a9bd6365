"""Order-insensitive result hashes, with scripts/local_verify.py's compare
rules: columns sorted by name, column types part of the identity, rows
compared as a multiset, floats compared exactly.

`python3 perfbench/oracle.py make <data_dir> <oracle_sql.json> <out.json>`
runs each entry's DuckDB oracle SQL over the benchmark's data and writes
the expected hashes the benchmark checks against.
"""
import hashlib
import json
import os
import sys

import duckdb


def _cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def relation_hash(rel):
    """(hash, rows) of a DuckDB relation under the compare rules."""
    cols = [str(c) for c in rel.columns]
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_cell(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(json.dumps([[cols[i], types[i]] for i in order]).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest(), len(rows)


def parquet_hash(path):
    con = duckdb.connect()
    return relation_hash(con.sql(f"SELECT * FROM '{path}/*.parquet'"))


def make(data_dir, sql_file, out_file):
    con = duckdb.connect()
    for p in sorted(os.listdir(data_dir)):
        if p.endswith(".parquet"):
            con.sql(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, p)}'")
    want = {}
    for name, sql in sorted(json.load(open(sql_file)).items()):
        digest, rows = relation_hash(con.sql(sql))
        want[name] = {"hash": digest, "rows": rows}
        print(f"{name}: {rows} rows", file=sys.stderr)
    with open(out_file, "w") as f:
        json.dump(want, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__" and sys.argv[1:2] == ["make"]:
    make(*sys.argv[2:5])
