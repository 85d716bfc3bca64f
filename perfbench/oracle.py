"""DuckDB oracle check for the benchmark's outputs.

The engine writes each checked step's output as parquet (one directory
per step) together with `oracle_sql.json`, the step's DuckDB SQL from
`SparkEntry.oracleSql`. This module runs that SQL over the same input
set and compares values exactly: columns sorted by name, rows sorted,
a type-class check before any coercion (an integer column against a
float column fails even when the values agree).

Oracle results are cached as parquet, keyed by the input set's content
hash and the SQL text, so a (seed, size) pays for its oracle once.
"""
import hashlib
import json
import math
import os

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _kind(dt) -> str:
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(dt.kind, "other")


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(want[c].dtype):
            return f"{name}: column {c} is {got[c].dtype}, oracle {want[c].dtype}"
    a, b = _canon(got), _canon(want)
    if len(a) != len(b):
        return f"{name}: {len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]):
            same = all((math.isnan(x) and math.isnan(y)) or x == y for x, y in zip(av, bv))
        else:
            same = bool((pd.Series(av).fillna("__N__").astype(str)
                         == pd.Series(bv).fillna("__N__").astype(str)).all())
        if not same:
            return f"{name}: column {c} differs from the oracle"
    return None


def oracle_frame(sql: str, data_dir: str, cache_dir: str, where: dict = None) -> pd.DataFrame:
    """The oracle's result over the tables in data_dir (each optionally
    filtered by a `where` clause), cached by input content and SQL."""
    with open(os.path.join(data_dir, "manifest.json")) as f:
        manifest = f.read()
    key = hashlib.sha256(json.dumps([manifest, sql, where or {}], sort_keys=True)
                         .encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    for t in json.loads(manifest)["tables"]:
        cond = f" WHERE {where[t]}" if where and t in where else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'{cond}")
    df = con.execute(sql).fetchdf()
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(out_dir: str, data_dir: str, cache_dir: str, where: dict = None,
          nonempty=()) -> dict:
    """Compare every step under out_dir/check against its oracle;
    returns {step: None or reason}. A step named in `nonempty` also
    fails when its output has no rows."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    result = {}
    for name, sql in sorted(sqls.items()):
        try:
            got = pd.read_parquet(os.path.join(out_dir, "check", name))
            if name in nonempty and got.empty:
                result[name] = f"{name}: no rows on the check set, so the check tests nothing"
                continue
            result[name] = compare(name, got, oracle_frame(sql, data_dir, cache_dir, where))
        except Exception as e:  # a missing output or a failing oracle is a failed check
            result[name] = f"{name}: {type(e).__name__}: {e}"
    return result
