"""Pre-flight for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir (default
sf0.01), then compares row count, column names, and values (columns
sorted by name, rows sorted by every column, floats canonicalized)
— the same shape of check the driver records in CORRECTNESS_r{N}.json.

Usage: python scripts/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("events", "documents")


def canon(df):
    """pandas DataFrame → canonical list of tuples.

    Type-TAGGED values: the driver's value hash is dtype-sensitive
    (a DuckDB HUGEINT sum surfaces as float64 and hash-mismatches
    Spark's int64 even when numerically equal — the round-1 failure
    mode), so an int-valued float must NOT compare equal to an int
    here either."""
    df = df[sorted(df.columns)]

    def c(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", round(v, 9))
        if isinstance(v, int):
            return ("i", v)
        if hasattr(v, "item"):
            return c(v.item())
        return v

    rows = [tuple(c(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from rechercheinfoweb_spark.session import get_spark

    spark = get_spark(app_name="contract-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pd)} rows)")
            continue
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if s_cols != d_cols:
            failures.append((name, f"schema {s_cols} != {d_cols}"))
            print(f"FAIL {name}: schema {s_cols} != {d_cols}")
            continue
        if len(spark_pd) != len(duck_pd):
            failures.append(
                (name, f"rows {len(spark_pd)} != {len(duck_pd)}"))
            print(f"FAIL {name}: rows {len(spark_pd)} != {len(duck_pd)}")
            continue
        sc, dc = canon(spark_pd), canon(duck_pd)
        if sc != dc:
            bad = next(i for i, (a, b) in enumerate(zip(sc, dc)) if a != b)
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch at sorted row {bad}:\n"
                  f"  spark {sc[bad]}\n  duck  {dc[bad]}")
            continue
        print(f"ok   {name}: {len(spark_pd)} rows match")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {[n for n, _ in failures]}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
