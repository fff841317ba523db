"""Output check: each query's result against its DuckDB oracle.

The oracle is the query's `SparkEntry.oracleSql` entry, run in DuckDB
over the same parquet tables the query read. Both sides are normalised
the way `tools/devcheck.py` does it: columns sorted by name, values
type-tagged (so an int never equals a float), floats rounded to 6
places, rows sorted. Oracle answers depend only on the inputs and the
SQL text, so they are cached per seed under a hash of the SQL. A query
with no oracle only has to return at least one row.

DuckDB 1.0 inlines a common table expression at every reference, so
an oracle that chains CTEs (the BPE merge steps) recomputes each link
many times: 67s instead of 2.4s for q_bpe_tokenize at sf0.1. The check
runs each oracle with its CTEs marked `MATERIALIZED`, which evaluates
each once and gives the same rows, and falls back to the SQL as written
if DuckDB refuses the rewrite.
"""
import hashlib
import json
import math
import os
import re

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):  # before int: bool <: int
        return ["b", bool(v)]
    if isinstance(v, float):  # covers numpy.float64
        if math.isnan(v):
            return "NaN"
        return ["f", round(v, 6)]
    if isinstance(v, (int, np.integer)):
        return ["i", int(v)]
    if isinstance(v, np.floating):
        return _norm_val(float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm_val(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm_val(x) for k, x in sorted(v.items())}
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalise(df):
    """(sorted column names, sorted normalised rows) as a JSON string."""
    cols = sorted(df.columns)
    rows = [json.dumps([_norm_val(v) for v in row])
            for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return json.dumps({"cols": cols, "rows": rows})


_CTE = re.compile(r"(\bWITH(?:\s+RECURSIVE)?\s+|,\s*)(\w+)\s+AS\s+\(",
                  re.I)


def _oracle(con, sql, cache_dir):
    key = hashlib.sha1(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return f.read()
    try:
        df = con.execute(_CTE.sub(
            lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (",
            sql)).fetchdf()
    except Exception:
        df = con.execute(sql).fetchdf()
    got = normalise(df)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(got)
    os.replace(tmp, path)
    return got


def check(results_dir, oracle_sql, queries, data_dir, cache_dir):
    """{query: None if its output is right, else a one-line reason}."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    verdicts = {}
    for q in queries:
        d = os.path.join(results_dir, q)
        if not os.path.isdir(d):
            verdicts[q] = "no output"
            continue
        got = pd.read_parquet(d)
        if q not in oracle_sql:
            verdicts[q] = None if len(got) > 0 else "no rows"
            continue
        try:
            exp = _oracle(con, oracle_sql[q], cache_dir)
        except Exception as e:  # a broken oracle fails the query
            verdicts[q] = f"oracle error: {e}".splitlines()[0]
            continue
        g, e = json.loads(normalise(got)), json.loads(exp)
        if g["cols"] != e["cols"]:
            verdicts[q] = f"columns {g['cols']} != oracle {e['cols']}"
        elif len(g["rows"]) != len(e["rows"]):
            verdicts[q] = (f"{len(g['rows'])} rows != oracle "
                           f"{len(e['rows'])}")
        elif g["rows"] != e["rows"]:
            bad = next(a for a, b in zip(g["rows"], e["rows"]) if a != b)
            verdicts[q] = f"row differs from oracle, first: {bad[:200]}"
        else:
            verdicts[q] = None
    con.close()
    return verdicts
