"""Local replica of the driver's correctness duel: every queries() entry with
an oracle_sql() mirror must match DuckDB at sf0.01 — row count, column names,
and order-insensitive values. The kg mirrors read the materialized parquet
files themselves; the other mirrors read the ``documents`` view."""

import math

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("documents",)


def _entry():
    import __spark_entry__ as mod
    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}"
        return str(v)

    normed = df.map(norm_cell)
    return normed.sort_values(by=list(normed.columns)).reset_index(drop=True)


SQL_CHECKED = sorted(set(__import__("__spark_entry__").oracle_sql()))


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, duck, name):
    mod = _entry()
    spark_df = mod.queries()[name](spark, SF_DIR).toPandas()
    duck_df = duck.sql(mod.oracle_sql()[name]).df()
    assert sorted(spark_df.columns) == sorted(duck_df.columns)
    sd = {c: str(spark_df[c].dtype) for c in spark_df.columns}
    dd = {c: str(duck_df[c].dtype) for c in duck_df.columns}
    assert sd == dd, f"dtype mismatch: {sd} vs {dd}"
    a, b = _normalize(spark_df), _normalize(duck_df)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    mism = (a != b).any(axis=1)
    assert not mism.any(), (
        f"{name}: {int(mism.sum())} mismatched rows\n"
        f"spark:\n{a[mism].head(5)}\nduck:\n{b[mism].head(5)}")


def test_rows_only_queries_run(spark):
    mod = _entry()
    sqls = set(mod.oracle_sql())
    for name, fn in mod.queries().items():
        if name in sqls:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    mod = _entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "doc_id", "stmt_id", "kind", "tuple_idx", "subj", "pred", "obj"}
