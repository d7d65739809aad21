"""Check query_suite results against each query's DuckDB oracle SQL.

Each result directory written by the harness is compared with the rows
DuckDB computes from the same generated parquet inputs: same column
names, same number of rows, and the same multiset of rows (row order is
ignored; floats agree to 1e-9 relative).
"""
import datetime
import decimal
import json
import math
import os

import duckdb

import gen_data


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, bool):
            return (1, str(v))
        if isinstance(v, (int, float)):
            return (1, f"{float(v):.6g}") if math.isfinite(v) else (1, str(v))
        return (2, str(v))
    return tuple(k(v) for v in row)


def _same(a, b):
    if a == b:
        return True
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_same(x, y) for x, y in zip(a, b))
    return False


def _rows(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted(([_norm(r[i]) for i in idx] for r in rel.fetchall()), key=_sort_key)


def compare(con, result_dir, sql, corrupt=False):
    """None when the parquet under `result_dir` equals the oracle's rows,
    else a one-line reason. `corrupt` changes one expected value first."""
    got_cols, got = _rows(con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"))
    exp_cols, exp = _rows(con.sql(sql))
    if corrupt and exp:
        exp[0][0] = "<injected wrong value>"
    if got_cols != exp_cols:
        return f"columns {got_cols} != oracle {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if not all(_same(x, y) for x, y in zip(g, e)):
            return f"row {i}: got {g!r} expected {e!r}"
    return None


def check(data_dir, results_dir, inject_wrong_row=False):
    """One verdict per query the harness ran: {"kind", "ok", "err"}.
    `inject_wrong_row` corrupts one expected row of the first query, so
    the checker must fail it (smoke test)."""
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = []
    for name in sorted(oracle):
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            out.append({"kind": f"oracle.{name}", "ok": False, "err": "no result written"})
            continue
        try:
            err = compare(con, d, oracle[name], corrupt=inject_wrong_row and not out)
        except duckdb.Error as e:
            err = f"oracle failed: {e}"
        out.append({"kind": f"oracle.{name}", "ok": err is None, "err": err or ""})
    con.close()
    return out
