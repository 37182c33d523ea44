#!/usr/bin/env python3
"""Expected outputs of the Spark query mix, computed apart from Spark.

For every query of the `served_graph` mix this runs the query's DuckDB
twin (`SparkEntry.oracleSql`) with the installed DuckDB over the same
generated Parquet corpus the Spark run reads, and keeps the results under perfbench/work/expected/<corpus>/. run.py calls `check`
once per run, after the timed phase, to compare every query's Spark
output with these results.

Usage: python3 perfbench/expected.py
(recomputes every expected output; builds the harness and generates the
corpus first if needed)
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "embeddings"]


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def compute(work: str, data_dir: str, oracle: dict) -> str:
    """DuckDB result of each query over the corpus in data_dir, as
    <name>.<sql hash>.parquet; cached per corpus and SQL text."""
    out = os.path.join(work, "expected", os.path.basename(data_dir))
    os.makedirs(out, exist_ok=True)
    con = None
    for name, sql in sorted(oracle.items()):
        if not sql:
            continue
        path = os.path.join(out, f"{name}.{_sql_key(sql)}.parquet")
        if os.path.exists(path):
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        df = con.execute(sql).fetchdf()
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def _cell(v):
    """A value in a form both engines' outputs compare equal in."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    return str(v) if not isinstance(v, (int, str)) else v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def diff(got: pd.DataFrame, exp: pd.DataFrame):
    """None if the frames hold the same rows in the same order (floats to
    a relative 1e-9), else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in sorted(got.columns):
        g = [_cell(v) for v in got[c].tolist()]
        e = [_cell(v) for v in exp[c].tolist()]
        for i, (x, y) in enumerate(zip(g, e)):
            if isinstance(x, int) and isinstance(y, float) or \
                    isinstance(x, float) and isinstance(y, int):
                x, y = float(x), float(y)
            if not _close(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def check(work: str, data_dir: str, check_dir: str):
    """Compare every query output under check_dir with its DuckDB result.
    Returns a list of failure lines (empty when all match)."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    exp_dir = compute(work, data_dir, oracle)
    bad = []
    for name, sql in sorted(oracle.items()):
        if not sql:
            bad.append(f"{name}: no DuckDB twin")
            continue
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            bad.append(f"{name}: no Spark output")
            continue
        got = pd.read_parquet(out)
        exp = pd.read_parquet(os.path.join(exp_dir, f"{name}.{_sql_key(sql)}.parquet"))
        reason = diff(got, exp)
        if reason:
            bad.append(f"{name}: {reason}")
    return bad


def main():
    sys.path.insert(0, HERE)
    import run
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    cp, opts = run.build(os.getcwd())
    data_dir = run.corpus("served_graph")
    out_json = os.path.join(run.WORK, "expected", "served_graph-oracle.json")
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    subprocess.run([run.java(), *opts, "-cp", cp, "perfbench.OracleDump",
                    out_json], check=True)
    with open(out_json) as f:
        oracle = json.load(f)
    shutil.rmtree(os.path.join(run.WORK, "expected", os.path.basename(data_dir)),
                  ignore_errors=True)
    print(compute(run.WORK, data_dir, oracle))


if __name__ == "__main__":
    main()
