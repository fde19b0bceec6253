"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, compares row count, column names, and the
order-insensitive multiset of values. Usage::

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    if len(spark_df) != len(duck_df):
        return f"ROWS {len(spark_df)} vs {len(duck_df)}"
    a_cols, b_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if a_cols != b_cols:
        return f"SCHEMA {a_cols} vs {b_cols}"
    a = spark_df[a_cols].sort_values(a_cols).reset_index(drop=True)
    b = duck_df[a_cols].sort_values(a_cols).reset_index(drop=True)
    for c in a_cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if not (pd.Series(av).astype(str) == pd.Series(bv).astype(str)).all():
            bad = (pd.Series(av).astype(str) != pd.Series(bv).astype(str)).idxmax()
            return f"VALUES col={c} row={bad}: {av[bad]!r} vs {bv[bad]!r}"
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from halvesting_geometric_spark.session import get_spark

    spark = get_spark(app_name="check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:24s} SPARK-ERROR {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:24s} rows={len(sdf)} (no oracle — rows-only check)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:24s} DUCKDB-ERROR {exc}")
            failures += 1
            continue
        verdict = compare(name, sdf, ddf)
        print(f"{name:24s} rows={len(sdf):7d}  {verdict}")
        if verdict != "OK":
            failures += 1
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
