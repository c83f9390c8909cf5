"""Output checks, run after the timed window. Each returns a list of
failure messages; an empty list means every output is correct.

Results are compared the way the repository's oracle gate compares them:
columns by name, rows sorted, values exact (floats bit-for-bit).
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ELT_STAGES = [("chains", "q49_chain_flatten"), ("tz", "q39_tz_session"),
              ("silver", "q54_silver_import"), ("verticals", "q28_verticals_pipeline")]


def _oracles(work):
    with open(f"{work}/oracle_sql.json") as f:
        return json.load(f)


def _con(work):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    return con


def _parquet(path):
    """A parquet file, or a directory of part files as Spark writes them."""
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"


def _same(con, got_sql, exp_sql):
    got, exp = con.sql(got_sql).df(), con.sql(exp_sql).df()
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    bad = [c for c in gc if str(got[c].dtype) != str(exp[c].dtype)]
    if bad:
        return "dtypes differ: " + ", ".join(f"{c} {got[c].dtype}/{exp[c].dtype}" for c in bad)
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    g = got[gc].sort_values(gc, ignore_index=True)
    e = exp[gc].sort_values(gc, ignore_index=True)
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return " ".join(str(ex).split())[:300]
    return None


def _oracle(con, name, oracles, dir_, got_path, where):
    for t in TABLES:
        p = os.path.join(dir_, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {_parquet(p)}")
    msg = _same(con, f"SELECT * FROM {_parquet(got_path)}", oracles[name])
    return [f"{where}: {name}: {msg}"] if msg else []


def check_elt(work, days):
    """Each day's stage outputs equal their oracle over the day's landed
    ticks; the historic store holds every offered (event_id, ts) once."""
    oracles = _oracles(work)
    con = _con(work)
    fails = []
    for d in days:
        for out, name in ELT_STAGES:
            fails += _oracle(con, name, oracles, f"{work}/days/{d}", f"{work}/out/{d}/{out}", d)
    offered = " UNION ".join(
        f"SELECT DISTINCT event_id, ts FROM {_parquet(f'{work}/days/{d}/events.parquet')}" for d in days)
    hist = f"read_parquet('{work}/hist/*/*.parquet', hive_partitioning=true)"
    n, distinct = con.sql(f"SELECT count(*), count(DISTINCT (event_id, ts)) FROM {hist}").fetchone()
    missing = con.sql(f"SELECT count(*) FROM (({offered}) EXCEPT SELECT event_id, ts FROM {hist})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT event_id, ts FROM {hist} EXCEPT ({offered}))").fetchone()[0]
    if n != distinct or missing or extra:
        fails.append(f"historic: {n} rows, {distinct} distinct keys, {missing} offered keys missing, "
                     f"{extra} keys never offered")
    return fails


def check_query(work, names):
    """Every query's last timed result equals its DuckDB oracle."""
    oracles = _oracles(work)
    con = _con(work)
    fails = []
    for name in names:
        fails += _oracle(con, name, oracles, f"{work}/tables", f"{work}/qout/{name}", "query")
    return fails


def check_corpus(work, passes):
    """The d23 incremental corpus equals the d22 batch corpus, per pass."""
    con = _con(work)
    fails = []
    for p in passes:
        msg = _same(con, f"SELECT * FROM {_parquet(f'{work}/cout/{p}/d23')}",
                    f"SELECT * FROM {_parquet(f'{work}/cout/{p}/d22')}")
        if msg:
            fails.append(f"{p}: d23 corpus != d22 corpus: {msg}")
    return fails

