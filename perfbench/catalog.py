#!/usr/bin/env python3
"""catalog_mix queries and their expected results.

The expected result of each query is DuckDB's answer to the query's
`SparkEntry.oracleSql` over the tables in `data/`, reduced to a digest
of the canonical form `tools/oracle_check.py` compares: columns sorted
by name, rows sorted, floats by their IEEE-754 bits, everything else
by `str`, plus the declared column types. A run writes what it
materialized as parquet and compares its digest with the stored one;
it never runs a query twice.

Regenerate the stored digests (a few minutes) after changing the query
list, the tables or an oracle:

    python3 perfbench/catalog.py --regenerate
"""
import hashlib
import json
import math
import os
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "catalog_expected.json")

# One query of each kind of work below, trimmed so that a run fits its
# time (README.md lists what was left out). The SemDeDup pair shares a
# session memo: the second reads what the first built.
QUERIES = [
    "q_zscore_outliers",      # per-key moments, one aggregate
    "q_semdedup_pairs",       # builds the SemDeDup pair memo
    "q_semdedup",             # reads it
    "q_curation_v5",          # checkpointed survivor frame
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    return str(v)


def digest(con, relation_sql):
    """Digest of a relation in oracle_check's canonical form."""
    rel = con.sql(relation_sql)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    cur = con.execute(relation_sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    body = json.dumps({"columns": [cols[i] for i in order],
                       "types": [types[cols[i]] for i in order],
                       "rows": canon})
    return {"rows": len(rows), "sha256": hashlib.sha256(body.encode()).hexdigest()}


def tables(con):
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, f)}')")


def check(out_dir, names):
    """Compare each query's materialized rows, written as parquet under
    out_dir/<query>, with its stored digest. Returns the problems."""
    import duckdb
    with open(EXPECTED) as f:
        want = json.load(f)
    con = duckdb.connect()
    problems = []
    for n in names:
        path = os.path.join(out_dir, n)
        if "'" in path:
            raise ValueError(f"unsupported path {path}")
        got = digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        if n not in want:
            problems.append(f"{n}: no stored digest (run --regenerate)")
        elif got != want[n]:
            problems.append(f"{n}: got {got['rows']} rows, digest "
                            f"{got['sha256'][:12]}; expected {want[n]['rows']} "
                            f"rows, digest {want[n]['sha256'][:12]}")
    return problems


def regenerate():
    import duckdb
    import run
    cp = run.build()
    work = run.fresh_dir("regenerate")
    try:
        sql_file = os.path.join(work, "oracle.json")
        run.java("perfbench.OracleSql", [",".join(QUERIES), sql_file], work,
                 cp, timeout=600)
        with open(sql_file) as f:
            sql = json.load(f)
        con = duckdb.connect()
        tables(con)
        out = {}
        for n in QUERIES:
            out[n] = digest(con, sql[n])
            print(f"{n}: {out[n]['rows']} rows", file=sys.stderr)
        with open(EXPECTED, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        run.remove(work)


if __name__ == "__main__":
    if sys.argv[1:] != ["--regenerate"]:
        sys.exit(__doc__)
    regenerate()
