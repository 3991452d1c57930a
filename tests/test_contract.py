"""Mini-driver: run every contract query on Spark AND its oracle SQL on
DuckDB at sf0.001, compare row counts and order-insensitive values — the
same gate the driver applies (CORRECTNESS_r{N}.json) at sf0.01."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # normalize integer-like to int64, floats rounded for comparison
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(9)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


QUERY_NAMES = sorted(entrymod.queries().keys())


# genuinely non-SQL-expressible ops: the driver applies a rows-only check
ROWS_ONLY: set = set()  # every query has a DuckDB oracle since round 2


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    raw_got = q(spark, SF_DIR).toPandas()
    got = normalize(raw_got)
    if name in ROWS_ONLY:
        assert sql is None
        assert len(got) > 0
        return
    assert sql is not None, f"{name} has no oracle"
    raw_want = ddb.sql(sql).df()
    # The driver hashes raw values: a DuckDB HUGEINT arriving as float64
    # where Spark emits BIGINT breaks hash_match even when values agree
    # (round-1 failure mode). Catch dtype-kind drift before normalization.
    for c in raw_got.columns:
        if c in raw_want.columns:
            gk = raw_got[c].dtype.kind
            wk = raw_want[c].dtype.kind
            if gk in "iu" or wk in "iu":
                assert gk in "iu" and wk in "iu", (
                    name, c, f"spark={raw_got[c].dtype}", f"oracle={raw_want[c].dtype}"
                )
    want = normalize(raw_want)
    assert list(got.columns) == list(want.columns), (
        name,
        list(got.columns),
        list(want.columns),
    )
    assert len(got) == len(want), (name, len(got), len(want))
    for c in got.columns:
        gv, wv = got[c].to_numpy(), want[c].to_numpy()
        if gv.dtype.kind == "f":
            assert np.allclose(gv, wv, atol=1e-9), (name, c)
        else:
            eq = gv == wv
            assert eq.all(), (name, c, gv[~eq][:5], wv[~eq][:5])


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"polygon_id", "tile_token", "pages"}
    assert len(rows) > 0  # the fixture polygons do catch synthetic points


def test_cap_join_has_no_python_stage(spark):
    """s2_cap_join keys its scan side on Catalyst (face,i,j) quad terms:
    no Python operator anywhere in the executed plan."""
    from s2geo_spark import contract

    df = contract.q_cap_join(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert op not in plan, (op, plan[:2000])
