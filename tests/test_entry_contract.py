"""Mini-driver: runs every ``__spark_entry__.queries()`` entry at
sf0.001 and compares against its ``oracle_sql()`` via DuckDB —
the same row-count + schema + order-insensitive value comparison the
real driver applies at sf0.01."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("events", "documents")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm(rows):
    out = []
    for row in rows:
        norm_row = []
        for v in row:
            if isinstance(v, float):
                norm_row.append(round(v, 9))
            elif hasattr(v, "__float__") and not isinstance(v, (int, bool)):
                norm_row.append(round(float(v), 9))
            else:
                norm_row.append(v)
        out.append(tuple(norm_row))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


SQL_NAMES = sorted(entrymod.oracle_sql())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", SQL_NAMES)
def test_sql_parity(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    sql = entrymod.oracle_sql()[name]
    got_cols = sorted(sdf.columns)
    spark_rows = [tuple(r[c] for c in got_cols) for r in sdf.collect()]
    ddf = duck.sql(sql)
    exp_cols = sorted(ddf.columns)
    assert got_cols == exp_cols, f"{name}: column mismatch"
    idx = [ddf.columns.index(c) for c in exp_cols]
    duck_rows = [tuple(row[i] for i in idx) for row in ddf.fetchall()]
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    a, b = _norm(spark_rows), _norm(duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert not mismatches, f"{name}: value mismatch {mismatches}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_run(spark, name):
    qfn = entrymod.queries()[name]
    df = qfn(spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "score", "url"} <= set(df.columns)
