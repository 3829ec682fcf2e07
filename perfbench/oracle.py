"""Output check for the query workloads: each query's result, dumped by the
benchmark's warm-up pass, must equal the DuckDB run of its oracle SQL
(`SparkEntry.oracleSql`) over the same Parquet tables, by the comparison of
`tools/local_verify.py`. A query with no oracle SQL passes when its dump
exists.
"""
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import local_verify  # noqa: E402


def check(dump_dir: str, data_dir: str, names, cache_dir: str) -> dict:
    """{query: "OK" or the reason it failed} for every name.

    The query workloads' tables are the same in every run, so each oracle
    result is computed once and kept under `cache_dir`, keyed by the oracle
    SQL and the table generator's source; the Spark side is checked afresh
    in every run."""
    oracle = json.loads((Path(dump_dir) / "oracle_sql.json").read_text())
    gen = (Path(__file__).parent / "gen_tables.py").read_bytes()
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name in names:
        files = sorted((Path(dump_dir) / name).glob("*.parquet"))
        if not files:
            out[name] = "NO-OUTPUT"
            continue
        if name not in oracle:
            out[name] = "OK"
            continue
        key = hashlib.sha1(gen + oracle[name].encode()).hexdigest()
        cached = Path(cache_dir) / f"{name}-{key}.pkl"
        if cached.exists():
            duck_df = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads TO {os.cpu_count() or 1}")
                con.execute(f"SET temp_directory = '{Path(dump_dir) / 'duckdb_tmp'}'")
                for t in local_verify.TABLES:
                    p = Path(data_dir) / f"{t}.parquet"
                    if p.exists():
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            try:
                duck_df = con.sql(oracle[name]).df()
            except Exception as e:  # an oracle that cannot run fails the query
                out[name] = f"ORACLE-ERROR {str(e).splitlines()[0][:160]}"
                continue
            tmp = cached.with_suffix(f".tmp{os.getpid()}")
            duck_df.to_pickle(tmp)
            os.replace(tmp, cached)
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        out[name] = local_verify.compare(name, spark_df, duck_df)
    if con is not None:
        con.close()
    return out
