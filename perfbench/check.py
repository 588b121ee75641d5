"""Output checks, run after the timed window.

Every job sample gets a verdict: True when it returned a result that
matches an independent DuckDB computation on the same generated inputs,
False when the result is wrong, None when the job threw. Results are
compared with the normalisation of the repository's tools/compare.py.
"""
import glob
import importlib.util
import os

import duckdb


def _load_compare(root):
    spec = importlib.util.spec_from_file_location(
        "graft_compare", os.path.join(root, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same(compare, con, result_sql, oracle_sql):
    sdf = con.execute(result_sql).fetchdf()
    odf = con.execute(oracle_sql).fetchdf()
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return f"schema {scols} != {ocols}"
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} != {len(odf)}"
    if compare.norm(sdf.to_dict("records"), scols) != compare.norm(odf.to_dict("records"), ocols):
        return "values differ"
    return None


def _same_counts(con, out):
    """Word counts in ``out`` against the ``wc_oracle`` table, as bags."""
    con.execute(f"CREATE OR REPLACE VIEW wc_out AS SELECT word, cnt::BIGINT AS cnt"
                f" FROM '{out}/*.parquet'")
    diff = con.execute(
        "SELECT count(*) FROM ((SELECT * FROM wc_out EXCEPT ALL SELECT * FROM wc_oracle)"
        " UNION ALL (SELECT * FROM wc_oracle EXCEPT ALL SELECT * FROM wc_out))").fetchone()[0]
    return f"{diff} rows differ" if diff else None


def _register_tables(con, directory):
    """One view per ``<table>.parquet`` file of an input directory."""
    for p in sorted(glob.glob(os.path.join(directory, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")


def check(root, workload, data, raw):
    """Returns (verdicts, problems): one verdict per raw job sample, in
    order, and a {job name: message} map of every mismatch or error."""
    compare = _load_compare(root)
    con = duckdb.connect()
    problems = {}
    oracle = raw["oracle_sql"]
    _register_tables(con, data)
    memo = {}

    if workload == "wordcount":
        con.execute(
            "CREATE TABLE wc_oracle AS SELECT word, count(*)::BIGINT AS cnt FROM ("
            " SELECT unnest(regexp_extract_all(lower(content), '[a-z]+')) AS word"
            f" FROM read_text('{os.path.join(data, 'txt', '*.txt')}')) GROUP BY word")
    results = {(r["name"], r["digest"]): r["dir"] for r in raw["results"]}

    verdicts = []
    for j in raw["jobs"]:
        name = j["name"]
        if j["error"] is not None:
            problems[name] = j["error"]
            verdicts.append(None)
            continue
        out = j["output"] or results.get((name, j["digest"]))
        if out not in memo:
            if workload == "wordcount":
                memo[out] = _same_counts(con, out)
            else:
                try:
                    memo[out] = _same(compare, con, f"SELECT * FROM '{out}/*.parquet'", oracle[name])
                except Exception as e:  # an unreadable output is a wrong output
                    memo[out] = f"{type(e).__name__}: {str(e)[:200]}"
        msg = memo[out]
        if msg:
            problems[name] = msg
        verdicts.append(msg is None)
    return verdicts, problems
