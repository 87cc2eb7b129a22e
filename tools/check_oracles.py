"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema(column names) + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

# The tables the oracles read.
TABLES = ("events", "documents")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per oracle table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    return con


def check(spark, con, sf_dir: str, names) -> list[str]:
    """Runs the named queries() entries on Spark and their oracle_sql()
    on `con`, printing one line per query; returns the names that
    failed."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in names:
        try:
            got = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[SPARK-FAIL] {name}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(got)} rows, "
                  f"cols={sorted(got.columns)}")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[SQL-FAIL  ] {name}: {e}")
            failures.append(name)
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"[SCHEMA    ] {name}: spark={list(g.columns)} "
                  f"oracle={list(e.columns)}")
            failures.append(name)
            continue
        if len(g) != len(e):
            print(f"[ROWCOUNT  ] {name}: spark={len(g)} oracle={len(e)}")
            failures.append(name)
            continue
        if not g.equals(e):
            neq = (g != e).any(axis=1)
            print(f"[VALUES    ] {name}: {neq.sum()}/{len(g)} rows differ")
            print("  spark:", g[neq].head(3).to_dict("records"))
            print("  oracle:", e[neq].head(3).to_dict("records"))
            failures.append(name)
            continue
        print(f"[OK        ] {name}: {len(g)} rows")
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from geeflow_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("oracle-check")
    failures = check(spark, connect(sf_dir), sf_dir,
                     only or list(entrymod.queries()))

    # entry smoke
    if not only:
        n = entrymod.entry(spark).count()
        print(f"[ENTRY     ] rows={n}")

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
