#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a given
SF, then execute each oracle SQL in DuckDB over the same parquet tables and
compare (column names, row count, values). Usage:

    python3 tools/local_verify.py [sfdir] [outdir] [--skip-spark] [query ...]
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_spark(sfdir: str, outdir: str) -> None:
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}']
    print("::", " ".join(cmd), flush=True)
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        failed = Path(outdir) / "failed.txt"
        if failed.exists():
            print("failed queries:", failed.read_text().split() or "none")
        sys.exit(1)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"SCHEMA spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWS spark={len(spark_df)} duck={len(duck_df)}"
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        # the driver's hash is dtype-sensitive: a value-equal column whose
        # dtypes differ (e.g. DuckDB HUGEINT→float64 vs Spark int64, r3's
        # q48) passes a pure value compare but fails the driver. Flag any
        # int-vs-float kind drift as a failure here too.
        if {av.dtype.kind, bv.dtype.kind} == {"i", "f"}:
            return f"DTYPE col={c} spark={av.dtype} duck={bv.dtype} (driver hash is dtype-sensitive)"
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float)
            bv = bv.astype(float)
            ok = (av.isna() & bv.isna()) | np.isclose(av, bv, rtol=0, atol=0, equal_nan=True)
            exact_bad = int((~ok).sum())
            if exact_bad:
                close = (av.isna() & bv.isna()) | np.isclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
                close_bad = int((~close).sum())
                return (f"VALUES col={c} exact_mismatch={exact_bad} beyond_1e-9={close_bad} "
                        f"sample spark={av[~ok].head(3).tolist()} duck={bv[~ok].head(3).tolist()}")
        else:
            both_na = av.isna() & bv.isna()
            eq = both_na | (av.astype(object) == bv.astype(object)).fillna(False)
            bad = int((~eq).sum())
            if bad:
                i = (~eq).idxmax()
                return f"VALUES col={c} mismatch={bad} e.g. row{i} spark={av[i]!r} duck={bv[i]!r}"
    return "OK"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if args else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = set(args[2:])
    if "--skip-spark" not in sys.argv:
        run_spark(sfdir, outdir)

    con = duckdb.connect()
    for t in TABLES:
        p = Path(sfdir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads((Path(outdir) / "oracle_sql.json").read_text())
    n_ok = n_bad = 0
    names = sorted(d.name for d in Path(outdir).iterdir() if d.is_dir())
    for name in names:
        if only and name not in only:
            continue
        files = list((Path(outdir) / name).glob("*.parquet"))
        if not files:
            print(f"{name:28s} NO-OUTPUT")
            n_bad += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracle:
            print(f"{name:28s} rows-only rows={len(spark_df)}" + (" EMPTY!" if not len(spark_df) else ""))
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {str(e).splitlines()[0][:160]}")
            n_bad += 1
            continue
        verdict = compare(name, spark_df, duck_df)
        print(f"{name:28s} {verdict}" + (f" rows={len(spark_df)}" if verdict == 'OK' else ""))
        if verdict == "OK":
            n_ok += 1
        else:
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
