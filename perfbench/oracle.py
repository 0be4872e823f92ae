"""Checks query results against their oracle SQL in DuckDB.

A result matches its oracle when, with columns sorted by name and rows
sorted by all columns, both have the same column names, the same column
types (integer widths up to BIGINT count as one type) and exactly equal
cells, floats included, and -0.0 told apart from 0.0.
"""
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

INT_WIDTHS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER"}


def canon(rows, cols, types):
    """(columns, rows, types) with columns sorted by name and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    types = [str(types[i]) for i in order]
    return ([cols[i] for i in order], out,
            ["INTLIKE" if t in INT_WIDTHS else t for t in types])


def same_cell(a, b):
    if a != b:
        return False
    return not (isinstance(a, float) and isinstance(b, float) and a == 0.0
                and math.copysign(1, a) != math.copysign(1, b))


def compare(got, want):
    """None when the canonical results `got` and `want` agree, else why not."""
    (g_cols, g_rows, g_types), (w_cols, w_rows, w_types) = got, want
    if g_cols != w_cols:
        return f"columns {g_cols}, oracle {w_cols}"
    if g_types != w_types:
        return f"types {g_types}, oracle {w_types}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows, oracle {len(w_rows)}"
    bad = sum(not same_cell(a, b) for gr, wr in zip(g_rows, w_rows) for a, b in zip(gr, wr))
    return f"{bad} cells differ from the oracle" if bad else None


def check(sf_dir, results_dir, oracles):
    """({query: problem}, {query: result rows}) for the queries in
    `oracles` (name → SQL): a problem for each whose result parquet under
    `results_dir` does not match its oracle, or is missing."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        problems, rows = {}, {}
        for name, sql in sorted(oracles.items()):
            path = os.path.join(results_dir, name)
            if not os.path.isdir(path):
                problems[name] = "no result written"
                continue
            try:
                g = con.sql(f"SELECT * FROM '{path}/*.parquet'")
                got = canon(g.fetchall(), g.columns, g.types)
                rows[name] = len(got[1])
                w = con.sql(sql)
                want = canon(w.fetchall(), w.columns, w.types)
            except Exception as e:  # a failing oracle or read is a wrong result
                problems[name] = f"exception: {e}"
                continue
            why = compare(got, want)
            if why:
                problems[name] = why
        return problems, rows
    finally:
        con.close()
