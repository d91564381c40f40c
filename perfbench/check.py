"""Output checks of the benchmark, run outside the timed region.

Batch queries are compared with DuckDB running the engine's own oracle SQL
over the same generated inputs. The comparison rules are the repository's
oracle gate rules: columns sorted by name, rows lex-sorted over every
column, floats bit-equal (no tolerance), and a dtype drift fails. They are
kept here rather than imported so that the parent and the changed commit
are judged by the same code.

The stream is compared with a plain count per (window, word) of the
generated events.
"""
import datetime
import decimal
import glob
import math
import os
from collections import Counter

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def kind(v):
    """Representation class of one cell; cells of different classes differ."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "nan" if math.isnan(v) else "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (pd.Timestamp, np.datetime64, datetime.datetime)):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "list"
    return type(v).__name__


def cell_eq(a, b):
    ka, kb = kind(a), kind(b)
    if ka != kb:
        return False
    if ka in ("null", "nan"):
        return True
    if ka == "float":
        return float(a) == float(b)
    if ka == "list":
        a, b = list(a), list(b)
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    if ka == "timestamp":
        return pd.Timestamp(a) == pd.Timestamp(b)
    return a == b


def dtype_ok(a, b):
    """Column dtypes agree. Integer width and timestamp resolution are not
    part of the representation; int against float is."""
    sa, sb = str(a), str(b)
    return (sa == sb or (sa.startswith("datetime64") and sb.startswith("datetime64"))
            or (sa.startswith("int") and sb.startswith("int")))


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(got, exp):
    """"OK" when the engine's frame equals the reference frame, else the
    first difference found."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"schema: engine={sorted(got.columns)} reference={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"row count: engine={len(got)} reference={len(exp)}"
    try:
        got, exp = canon(got), canon(exp)
    except Exception as e:  # unsortable cells fail the gate too
        return f"unsortable output: {e}"
    for c in got.columns:
        if not dtype_ok(got[c].dtype, exp[c].dtype):
            return f"dtype of {c}: engine={got[c].dtype} reference={exp[c].dtype}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c], exp[c])):
            if not cell_eq(a, b):
                return f"value row {i} col {c}: engine={a!r} reference={b!r}"
    return "OK"


def check_batch(inputs, results_dir, oracle_sql, names):
    """{query: "OK" | reason} for every name; a query without oracle SQL or
    without a dumped result is a failure with that reason."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
    verdict = {}
    for name in names:
        parts = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if name not in oracle_sql:
            verdict[name] = "no oracle SQL"
        elif not parts:
            verdict[name] = "no engine output"
        else:
            try:
                got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
                exp = con.execute(oracle_sql[name]).fetchdf()
                verdict[name] = compare(got, exp)
            except Exception as e:
                verdict[name] = f"check error: {type(e).__name__}: {e}"[:300]
    return verdict


def reference_counts(events, n_offered, window_ms, shift_ms):
    """Plain count per (window start ms, word) of the first `n_offered`
    events of the replayed sequence: event i is events[i % n] shifted by
    (i // n) * shift_ms."""
    n = len(events)
    out = Counter()
    for i in range(n_offered):
        ts, text = events[i % n]
        t = ts + (i // n) * shift_ms
        start = t - t % window_ms
        for w in text.split():
            out[(start, w)] += 1
    return out


def compare_counts(got, exp):
    """Mismatching (window, word) keys between the sink's latest counts and
    the reference, as a sorted list of (key, engine, reference)."""
    bad = []
    for k in set(got) | set(exp):
        if got.get(k) != exp.get(k):
            bad.append((k, got.get(k), exp.get(k)))
    return sorted(bad, key=lambda x: x[0])


def read_counts(path):
    out = {}
    with open(path) as f:
        for line in f:
            start, word, cnt = line.rstrip("\n").split("\t")
            out[(int(start), word)] = int(cnt)
    return out
