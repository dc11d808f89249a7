"""Order-insensitive output digests, checked against DuckDB.

A row digest is exact: numbers compare by exact value whatever their
type (int, float, decimal), timestamps as UTC wall clocks, a date as
its midnight (as scripts/oracle_check.py compares them), columns by
name. The result digest hashes the sorted row digests, so row order does
not matter; duplicates do.
"""
import datetime as dt
import decimal
import hashlib
import math
import os
from fractions import Fraction
from pathlib import Path

import duckdb
import pyarrow.parquet as pq


def canon(v):
    t = type(v)
    # the common cases first, by exact type: exact value as n/d in
    # lowest terms, as Fraction(v) gives it
    if t is int or t is decimal.Decimal or (t is float and math.isfinite(v)):
        n, d = v.as_integer_ratio()
        return f"#{n}/{d}"
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"B{int(v)}"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and math.isinf(v):
        return f"F{v}"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = Fraction(v)
        return f"#{f.numerator}/{f.denominator}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"T{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"T{v.isoformat()}T00:00:00"
    if isinstance(v, dt.time):
        return f"D{v.isoformat()}"
    if isinstance(v, bytes):
        return f"X{v.hex()}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "S" + str(v)


def rows_of(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted("|".join(canon(x) for x in r) for r in zip(*data))


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(spark_table, duck_table):
    """None when equal, else a one-line reason."""
    s_cols, s_rows = rows_of(spark_table)
    d_cols, d_rows = rows_of(duck_table)
    if s_cols != d_cols:
        return f"columns differ: engine={s_cols} duckdb={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count: engine={len(s_rows)} duckdb={len(d_rows)}"
    if digest(s_rows) != digest(d_rows):
        only = sorted(set(s_rows) - set(d_rows))[:1]
        return f"values differ ({len(set(s_rows) - set(d_rows))} rows), e.g. {only}"
    return None


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_queries(out_dir, data_dir, tables, ops, oracle_sql):
    """Per op: None if its captured output matches DuckDB running its oracle
    SQL, else why not."""
    con = connect(data_dir, tables)
    verdict = {}
    for name in ops:
        got = Path(out_dir, "capture", name)
        if not got.exists():
            verdict[name] = "no output captured"
            continue
        if name not in oracle_sql:
            verdict[name] = "no oracle SQL"
            continue
        try:
            want = con.execute(oracle_sql[name]).fetch_arrow_table()
        except Exception as e:  # the oracle itself failing is a failure too
            verdict[name] = f"oracle error: {e}"[:300]
            continue
        verdict[name] = compare(pq.read_table(str(got)), want)
    return verdict


def check_etl(out_dir, data_dir, tables, replay, checks):
    """The final ETL table and the check reads against a DuckDB replay."""
    con = connect(data_dir, tables)
    for stmt in replay:
        con.execute(stmt)
    verdict = {}
    wanted = {"table_sales": "SELECT * FROM sales", **checks}
    for name, sql in wanted.items():
        got = Path(out_dir, "capture", name)
        if not got.exists():
            verdict[name] = "no output captured"
            continue
        verdict[name] = compare(pq.read_table(str(got)),
                                con.execute(sql).fetch_arrow_table())
    return verdict
