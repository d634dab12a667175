"""Output checking against DuckDB.

Op outputs arrive as JSON lines from the harness (column names, then one
array per row; temporal values as UTC epoch microseconds, decimals as
{"dec": "..."}).  DuckDB results are brought to the same form, then both
sides are compared as multisets of whole rows, with a relative float
tolerance.
"""
import datetime as dt
import decimal
import json
import math
import os

import duckdb

REL_TOL = 1e-9
EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    """A DuckDB or harness value in the common comparable form."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, dict):
        if set(v) == {"dec"}:
            return decimal.Decimal(v["dec"])
        return [canon(x) for x in v.values()]
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, dt.date):
        return (v - EPOCH.date()).days * 86_400_000_000
    if isinstance(v, dt.timedelta):
        return (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def _num(v):
    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) and isinstance(b, float) and a in ("NaN", "Infinity", "-Infinity"):
        a = float(a)
    if _num(a) and _num(b):
        if not (isinstance(a, float) or isinstance(b, float)):
            return decimal.Decimal(a) == decimal.Decimal(b)
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _key(v, digits=None):
    """Sort key.  With `digits`, floats are rounded to that many
    significant digits, so float noise does not reorder rows."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return (1, math.inf)
        return (1, float(f"{v:.{digits}g}") if digits else v)
    if _num(v):
        return (1, v)
    if isinstance(v, list):
        return (3, tuple(_key(x, digits) for x in v))
    return (2, str(v))


def _row_key(r):
    return tuple(_key(v, 9) for v in r)


def _has_float(v):
    return isinstance(v, float) or (isinstance(v, list) and any(map(_has_float, v)))


# How far (in sorted position) a row may have moved past a near-tie
# because of float noise and still be matched.
WINDOW = 16


def _show(names, r):
    return repr(dict(zip(names, r)))[:300]


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a one-line reason naming a row.  Columns are
    matched by name and rows as multisets of whole rows: a value is never
    compared apart from the row it came in.

    Rows are grouped on their exact values in the columns that hold no
    floats.  Within a group they are sorted on their float values rounded to
    nine significant digits, and each result row is matched to an unused
    oracle row within WINDOW places, nearest first, so float noise that
    reorders near-ties does not count as a difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    names = sorted(got_cols)
    gi = [got_cols.index(c) for c in names]
    wi = [want_cols.index(c) for c in names]
    g = [[canon(r[i]) for i in gi] for r in got_rows]
    w = [[canon(r[i]) for i in wi] for r in want_rows]
    floats = {c for c in range(len(names))
              if any(_has_float(r[c]) for r in g) or any(_has_float(r[c]) for r in w)}

    def exact(r):
        return tuple((1,) if c in floats and r[c] is not None else _key(r[c])
                     for c in range(len(r)))

    groups = {}
    for side, rows in ((0, g), (1, w)):
        for r in rows:
            groups.setdefault(exact(r), ([], []))[side].append(r)
    for gs, ws in groups.values():
        gs.sort(key=_row_key)
        ws.sort(key=_row_key)
        used = [False] * len(ws)
        for i, r in enumerate(gs):
            near = sorted(range(max(0, i - WINDOW), min(len(ws), i + WINDOW + 1)),
                          key=lambda j: abs(j - i))
            j = next((j for j in near if not used[j] and
                      all(same(x, y) for x, y in zip(r, ws[j]))), None)
            if j is None:
                return f"row {_show(names, r)} is not in the oracle's result"
            used[j] = True
        if not all(used):
            return f"oracle row {_show(names, ws[used.index(False)])} is missing"
    return None


def read_output(path):
    with open(path) as f:
        cols = json.loads(f.readline())
        rows = [json.loads(line) for line in f if line.strip()]
    return cols, rows


def connect(staged_dirs):
    """DuckDB with one view per staged table."""
    con = duckdb.connect()
    for name, d in staged_dirs.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(d, '*.parquet')}')")
    return con


def run_sql(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def check_ops(con, ops, oracle):
    """Per-op failure reasons for the query workloads.  Every execution
    must succeed; the first one's output must match the op's oracle SQL
    and later ones must return as many rows."""
    failures = {}
    first = {}
    for op in ops:
        name = op["name"]
        if op["error"] is not None:
            failures.setdefault(name, f"threw: {op['error'][:200]}")
        elif name not in first:
            first[name] = op
        elif op["rows"] != first[name]["rows"]:
            failures.setdefault(name, f"rows {op['rows']} != {first[name]['rows']} "
                                      "in an earlier pass")
    for name, op in first.items():
        if name in failures:
            continue
        sql = oracle.get(name)
        if sql is None:
            failures[name] = "no oracle SQL"
            continue
        try:
            want_cols, want_rows = run_sql(con, sql)
        except duckdb.Error as e:
            failures[name] = f"oracle failed: {str(e)[:200]}"
            continue
        got_cols, got_rows = read_output(op["output"])
        reason = compare(got_cols, got_rows, want_cols, want_rows)
        if reason:
            failures[name] = reason
    return failures


ORDERS_DDL = ("CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, "
              "o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, "
              "o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")


def replay_dml(orders_dir, stream, results, table_files):
    """Replay the executed prefix of the statement stream on DuckDB.

    Returns (failures, changed_rows): a reason per failed statement index
    (write errors, read mismatches, and 'final' for a final-table
    mismatch), and the rows each write statement changed."""
    con = duckdb.connect()
    con.execute(ORDERS_DDL)
    con.execute("INSERT INTO orders SELECT * FROM "
                f"read_parquet('{os.path.join(orders_dir, '*.parquet')}')")
    failures, changed = {}, []
    for i, r in enumerate(results):
        kind, sql = stream[i]
        try:
            cols, rows = run_sql(con, sql)
        except duckdb.Error as e:
            failures[i] = f"duckdb refused the statement: {str(e)[:200]}"
            continue
        if r["error"] is not None:
            failures[i] = f"threw: {r['error'][:200]}"
        elif kind == "read":
            reason = compare(*read_output(r["output"]), cols, rows)
            if reason:
                failures[i] = reason
        if kind != "read":
            changed.append(rows[0][0] if rows else 0)
    files = ", ".join(f"'{f}'" for f in table_files)
    con.execute(f"CREATE VIEW written AS SELECT * FROM read_parquet([{files}])")
    extra, missing = (con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
                      for a, b in (("FROM written", "FROM orders"),
                                   ("FROM orders", "FROM written")))
    if extra or missing:
        failures["final"] = (f"final table: {extra} rows not in the replay, "
                             f"{missing} replayed rows missing")
    return failures, changed
