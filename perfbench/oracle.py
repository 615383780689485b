"""Correctness checks of a finished run, independent of the engine.

analytics   each query's first-pass result against its DuckDB oracle SQL
            (graft.SparkEntry.oracleSql) over the same TESTDATA tables,
            with the comparison rules of tools/local_verify.py
table_cdc   each read's first-pass result, and every pass's per-version
            change-feed totals, against the same statement sequence
            replayed on a plain DuckDB table; each operator query's
            first-pass result against its oracle SQL over the events table
etl_daily   every load's layer totals against the generator's totals

Later passes are tied to the first pass inside the JVM (equal digests), so
checking the first pass's outputs covers every pass. Each function returns
{key: reason} for the wrong outputs, keyed by operation name when every
pass of that operation is wrong, else by (pass, operation name).
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(got, exp):
    """None when equal under the local_verify rules, else the reason."""
    got, exp = _canon(got), _canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    kinds = lambda df: [df[c].dtype.kind.replace("u", "i") for c in df.columns]
    if kinds(got) != kinds(exp):
        return f"dtype kinds {kinds(got)} vs {kinds(exp)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e)[:300]
    return None


def _result(results_dir, name):
    path = os.path.join(results_dir, name)
    return pd.read_parquet(path) if os.path.isdir(path) else None


def queries(corpus, results_dir, oracle_path):
    """Each query's result against its oracle SQL over the tables in
    `corpus` (one parquet file per table)."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{corpus}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    bad = {}
    with open(oracle_path) as f:
        oracle = json.load(f)
    for name, sql in sorted(oracle.items()):
        got = _result(results_dir, name)
        if got is None:
            bad[name] = "no result"
            continue
        why = compare(got, con.sql(sql).df())
        if why:
            bad[name] = why
    return bad


def cdc_expected(inputs, steps):
    """Replays the statement sequence on DuckDB: each read's result, and
    each committed version's (net rows, net sum of v)."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW src AS SELECT * FROM read_parquet('{inputs}/src.parquet')")
    con.sql(f"CREATE VIEW upd AS SELECT * FROM read_parquet('{inputs}/upd.parquet')")
    reads, versions = {}, {}
    state = lambda: con.sql("SELECT COUNT(*), COALESCE(SUM(v), 0) FROM t").fetchone()
    prev, version = (0, 0), 0
    for st in steps:
        if st["duck"] is not None:
            for stmt in st["duck"].split("; "):
                con.execute(stmt)
        if st["kind"] in ("read", "timetravel"):
            reads[st["name"]] = (reads[st["same_as"]] if st.get("same_as")
                                 else con.sql(st["duck"]).df())
        if st["write"]:
            version += 1
            now = state()
            versions[f"{version:06d}"] = [int(now[0] - prev[0]), int(now[1] - prev[1])]
            prev = now
    return reads, versions


def table_cdc(inputs, results_dir, steps, ops, oracle_path):
    reads, versions = cdc_expected(inputs, steps)
    bad = queries(inputs, results_dir, oracle_path)
    for name, exp in reads.items():
        got = _result(results_dir, name)
        why = "no result" if got is None else compare(got, exp)
        if why:
            bad[name] = why
    # the statement that committed the first version whose change-feed
    # totals differ wrote a wrong result; later versions may differ only
    # because they start from its state, so they are not blamed
    writers = [st["name"] for st in steps if st["write"]]
    for op in ops:
        if op["kind"] == "drain" and op["ok"] and op["output"] != versions:
            bad[(op["pass"], "cdf_drain")] = f"per-version totals {op['output']} vs {versions}"
            first = next((v for v in sorted(versions) if op["output"].get(v) != versions[v]), None)
            if first is not None:
                bad[(op["pass"], writers[int(first) - 1])] = (
                    f"version {int(first)}: net rows and sum of v {op['output'].get(first)} "
                    f"vs {versions[first]}")
    return bad


def etl_daily(plan, ops):
    days = plan["days"]
    bad = {}
    for op in ops:
        if not op["ok"]:
            continue
        i = len(days) - 1 if op["name"] == "replay" else int(op["name"].split("_")[1]) - 1
        exp, got = days[i]["expected"], op["output"]
        want = {"dim_rows": exp["dim_rows"], "fact_rows": exp["fact_rows"],
                "staged_rows": 0, "per_date": exp["per_date"]}
        if got != want:
            bad[(op["pass"], op["name"])] = f"layers {got} vs {want}"
    return bad
