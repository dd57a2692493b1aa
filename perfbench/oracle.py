"""Output-correctness gate for the query sweeps.

Each sweep query's result, written by the runner the way `graft.Verify`
writes it (one parquet directory per query), is compared with its DuckDB
twin from `SparkEntry.oracleSql` run on the same generated tables. The
comparison follows `tools/burnin.py`: columns sorted by name, then row
count, exact values in row order, and pandas dtypes.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _differs(a, b):
    return _canon(a) != _canon(b) and not (a is None and b is None) and str(a) != str(b)


def compare_frames(exp, got):
    """Problems found between the oracle frame and the engine's frame;
    an empty list means they match."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return [f"columns exp={list(exp.columns)} got={list(got.columns)}"]
    if len(exp) != len(got):
        return [f"rows exp={len(exp)} got={len(got)}"]
    problems = []
    for c in exp.columns:
        ev, gv = list(exp[c]), list(got[c])
        bad = [i for i, (a, b) in enumerate(zip(ev, gv)) if _differs(a, b)]
        if bad:
            i = bad[0]
            problems.append(f"col {c}: {len(bad)} diffs, first row {i}: "
                            f"exp={ev[i]!r} got={gv[i]!r}")
        if str(exp[c].dtype) != str(got[c].dtype):
            problems.append(f"dtype {c}: exp={exp[c].dtype} got={got[c].dtype}")
    return problems


def compare(data_dir, results_dir, names):
    """``{query: problem}`` for every query whose output differs from
    its oracle (or is missing)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name in names:
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # a broken twin is a failed check too
            bad[name] = f"oracle sql error: {e}"
            continue
        try:
            got = con.sql("SELECT * FROM read_parquet("
                          f"'{os.path.join(results_dir, name)}/*.parquet')").df()
        except Exception as e:
            bad[name] = f"engine output missing: {e}"
            continue
        problems = compare_frames(exp, got)
        if problems:
            bad[name] = "; ".join(problems[:4])
    con.close()
    return bad
