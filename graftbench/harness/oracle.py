"""Check the interactive deck's results against DuckDB.

The benchmark JVM writes the result of each deck query (from its
warm-up, which every timed op must then reproduce) as Parquet, with the
query's DuckDB-dialect oracle SQL from `SparkEntry.oracleSql`. Here the
oracle SQL runs in DuckDB over the same input files and the two results
are compared as multisets of rows, column order by name.
"""

import datetime
import decimal
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """One comparable, sortable form per value, whatever engine type
    carried it: numbers as floats, date/times as naive datetimes."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return (1, "NaN") if math.isnan(f) else (1, f + 0.0)
    if isinstance(v, datetime.datetime):
        return (2, datetime.datetime(v.year, v.month, v.day, v.hour, v.minute,
                                     v.second, v.microsecond))
    if isinstance(v, datetime.date):
        return (2, datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, str):
        return (3, v)
    if isinstance(v, (list, tuple)):
        return (4, tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return (5, tuple(sorted((k, _norm(x)) for k, x in v.items())))
    return (6, repr(v))


def _rows(columns, records):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in records), key=repr)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows != {len(exp_rows)}"
    g, e = _rows(got_cols, got_rows), _rows(exp_cols, exp_rows)
    bad = sum(1 for a, b in zip(g, e) if a != b)
    return f"{bad} rows differ" if bad else None


def check(reference_dir, data_dir):
    """Map query name -> None (matches the oracle) or the reason not."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    oracles = json.load(open(os.path.join(reference_dir, "oracle_sql.json")))
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = pq.read_table(os.path.join(reference_dir, name))
            rel = con.sql(sql)
            exp_cols = list(rel.columns)
            exp_rows = rel.fetchall()
            verdicts[name] = compare(got.column_names,
                                     [tuple(r.values()) for r in got.to_pylist()],
                                     exp_cols, exp_rows)
        except Exception as ex:  # a failing oracle is a failed check
            verdicts[name] = f"error: {ex}".splitlines()[0][:300]
    return verdicts
