"""Catalog output check: each entry's Spark result against its DuckDB oracle.

Comparison rules (those of the project's correctness check): columns are
matched by name, rows are sorted by every column, integer, string and
boolean values must be equal, floating-point values may differ by a
relative 1e-9, and NULL equals NULL.
"""

import decimal
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isfile(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    return con


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = list(zip(*data)) if data else []
    key = lambda r: tuple((v is None, _sort_key(v)) for v in r)
    return cols, sorted(rows, key=key)


def _sort_key(v):
    if v is None:
        return ""
    v = _plain(v)
    if isinstance(v, float) and math.isnan(v):
        return float("inf")
    if isinstance(v, (list, dict)):
        return repr(v)
    return v


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def _same(a, b):
    a, b = _plain(a), _plain(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            fa, fb = float(a), float(b)
            if math.isnan(fa) or math.isnan(fb):
                return math.isnan(fa) and math.isnan(fb)
            return fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb))
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def compare(got, want):
    """None when the two arrow tables agree, else the first difference."""
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return "columns %s != oracle %s" % (gc, wc)
    if len(gr) != len(wr):
        return "%d rows != oracle %d" % (len(gr), len(wr))
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return "row %d: %r != oracle %r" % (i, a, b)
    return None


def oracle_table(con, sql, cache_dir, data_key):
    """The oracle's answer, cached per (data, SQL): catalog tables are
    fixed, so a checkout pays for each oracle query once."""
    h = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, h + ".parquet")
    if os.path.isfile(path):
        return pq.read_table(path)
    table = con.execute(sql).arrow()
    if hasattr(table, "read_all"):
        table = table.read_all()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return table


def check_entries(oracle_sql, result_dir, data_dir, cache_dir, data_key):
    """Map entry -> None (match) or a description of the mismatch."""
    con = None
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            d = os.path.join(result_dir, name)
            got = pq.read_table(d) if os.path.isdir(d) else None
            if got is None:
                out[name] = "no output written"
                continue
            h = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()[:32]
            if con is None and not os.path.isfile(os.path.join(cache_dir, h + ".parquet")):
                con = _connect(data_dir)
            want = oracle_table(con, sql, cache_dir, data_key)
            out[name] = compare(got, want)
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            out[name] = "check raised %s: %s" % (type(e).__name__, str(e)[:300])
    return out
