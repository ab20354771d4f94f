"""Output checks for the query workloads.

Every query result the harness wrote (first and warm executions alike) is
compared with the query's DuckDB oracle (`graft.SparkEntry.oracleSql`)
run over the same fixture files: same column names, same column types
(up to encoding variants the oracle gate does not distinguish), and the
same multiset of rows with doubles compared exactly. A mismatch is
written into the operation's `error`, so it counts as a failed operation.
"""
import json
import math
import os

import duckdb

from gen import TABLES


def _canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(int(v)))
    if isinstance(v, (int, float)):
        f = float(v)
        return (2, "nan" if math.isnan(f) else repr(f))
    return (3, str(v))


def _norm_type(t):
    t = t.upper()
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    return {"INTEGER": "INT", "VARCHAR": "TEXT", "BLOB": "BINARY"}.get(t, t)


def _table(con, sql):
    """(sorted column names, their types, canonical sorted rows)."""
    types = {r[0]: _norm_type(r[1])
             for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], [types[cols[i]] for i in order], key


def _diff(got, exp):
    if got[0] != exp[0]:
        return f"columns {got[0]} != oracle {exp[0]}"
    if got[1] != exp[1]:
        return f"column types {got[1]} != oracle {exp[1]}"
    if len(got[2]) != len(exp[2]):
        return f"{len(got[2])} rows != oracle {len(exp[2])}"
    for g, e in zip(got[2], exp[2]):
        if g != e:
            return f"row {g} != oracle {e}"
    return None


def check_queries(fixtures, out, ops):
    """Set `error` on every op whose output differs from its oracle."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixtures}/{t}.parquet')")
    expected = {}
    for o in ops:
        if o["error"]:
            continue
        q = o["name"]
        if q not in oracle:
            o["error"] = "no oracle SQL registered"
            continue
        try:
            if q not in expected:
                expected[q] = _table(con, f"({oracle[q]})")
            got = _table(con, f"(SELECT * FROM read_parquet('{o['output']}/*.parquet'))")
            o["error"] = _diff(got, expected[q])
        except duckdb.Error as e:
            o["error"] = f"check failed: {e}"
