"""Output checks: each checked op's Spark output against the DuckDB answer
to its oracle SQL, compared as order-insensitive fingerprints.

Values are normalised the way tools/check.py compares them: columns sorted
by name; numeric columns as exact integers when every value is integral,
else as exact float64 values; everything else as its string form.
"""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _column(series):
    import numpy as np
    import pandas as pd
    if pd.api.types.is_numeric_dtype(series):
        v = series.astype("float64").values
        if np.isfinite(v).all() and (v == np.floor(v)).all() and (np.abs(v) < 2 ** 62).all():
            return [int(x) for x in series.astype("int64").values]
        return [repr(float(x)) for x in v]
    return [str(x) for x in series.astype(str).values]


def fingerprint(df):
    """sha256 over the column names and the sorted per-row hashes: equal
    for two frames holding the same rows in any order."""
    cols = sorted(df.columns)
    values = [_column(df[c]) for c in cols]
    rows = sorted(hashlib.sha256(repr(r).encode()).hexdigest() for r in zip(*values))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def _connect(fixture_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.abspath(fixture_dir)}/{t}.parquet'")
    return con


def expected(fixture_dir, oracle, cache_dir):
    """Fingerprint of each oracle answer, cached per (fixture, SQL text)."""
    os.makedirs(cache_dir, exist_ok=True)
    tag = hashlib.sha256(os.path.abspath(fixture_dir).encode()).hexdigest()[:12]
    out, con = {}, None
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{tag}-{name}-{key}.json")
        if not os.path.exists(path):
            con = con or _connect(fixture_dir)
            fp = fingerprint(con.sql(sql).df())
            with open(path + ".tmp", "w") as f:
                json.dump(fp, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            out[name] = json.load(f)
    return out


def compare(fixture_dir, out_dir, oracle, cache_dir):
    """(op, error) for every checked op whose output differs from its oracle."""
    import duckdb
    want = expected(fixture_dir, oracle, cache_dir)
    con = duckdb.connect()
    errors = []
    for name, fp in sorted(want.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            errors.append((name, "no output"))
            continue
        got = fingerprint(con.sql(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'").df())
        if got != fp:
            errors.append((name, f"output fingerprint {got} != oracle {fp}"))
    return errors
