"""Oracle compare: each key's Spark output against its DuckDB SQL.

Follows the repo's dev comparator (scripts/check.py) rule for rule — no
HUGEINT oracle columns, same dtype kinds, columns sorted by name, row
order as produced, doubles equal to 1e-9 — kept here so the benchmark's
verdict does not change when that script does.
"""
import datetime
import decimal
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    nn = s.dropna().head(5)
    if s.dtype == object and len(nn):
        if all(isinstance(v, decimal.Decimal) for v in nn):
            return "float"
        if all(isinstance(v, datetime.date) for v in nn):
            return "datetime"
    return "object"


def _kind_skew(exp, got):
    bad = []
    for c in sorted(set(exp.columns) & set(got.columns)):
        if ((exp[c].dtype == object and exp[c].notna().sum() == 0) or
                (got[c].dtype == object and got[c].notna().sum() == 0)):
            continue
        ek, gk = _kind(exp[c]), _kind(got[c])
        if ek != gk:
            fs = exp[c] if ek == "float" else got[c]
            if {ek, gk} == {"int", "float"} and fs.isna().any():
                fv = fs.dropna()
                if (fv == fv.round()).all():
                    continue
            bad.append((c, ek, gk))
    return bad


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df


def _compare(exp_raw, got_raw):
    kinds = _kind_skew(exp_raw, got_raw)
    if kinds:
        return f"dtype-kind skew {kinds}"
    exp, got = _canon(exp_raw), _canon(got_raw)
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if exp.shape != got.shape:
        return f"shape exp={exp.shape} got={got.shape}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if pd.api.types.is_float_dtype(e):
            ok = ((e.isna() & g.isna()) | (e == g) |
                  np.isclose(e, g, rtol=0, atol=1e-9, equal_nan=True)).all()
        elif e.isna().any() or g.isna().any():
            ok = ((e.isna() & g.isna()) | (e.astype(str) == g.astype(str))).all()
        else:
            ok = (e == g).all()
        if not ok:
            return f"value mismatch in column {c}"
    return None


def check(data_dir, sqls, keys, outputs):
    """Returns ({key: reason} for every key whose output is missing or
    differs from its oracle, {key: output row count})."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    wrong, rows = {}, {}
    for k in keys:
        sql = sqls.get(k)
        if sql is None:
            wrong[k] = "no oracle SQL"
            continue
        if not glob.glob(os.path.join(outputs[k], "*.parquet")):
            wrong[k] = "no output"
            continue
        try:
            desc = con.execute(f"DESCRIBE ({sql})").fetchall()
            huge = [c for c, t, *_ in desc if "HUGEINT" in t.upper()]
            if huge:
                wrong[k] = f"HUGEINT oracle columns {huge}"
                continue
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run checks nothing
            wrong[k] = f"oracle SQL error: {e}"
            continue
        got = pd.read_parquet(outputs[k])
        rows[k] = len(got)
        why = _compare(exp, got)
        if why:
            wrong[k] = why
    con.close()
    return wrong, rows
