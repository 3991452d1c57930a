"""Mini-driver: run every contract query on Spark AND its oracle SQL on
DuckDB at sf0.001, compare row counts and order-insensitive values — the
same gate the driver applies (CORRECTNESS_r{N}.json) at sf0.01."""

import ast
import pathlib
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
import s2geo_spark

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


def _assert_matches_oracle(spark, ddb, name):
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


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    _assert_matches_oracle(spark, ddb, name)


# the contract queries whose physical path turns on SPATIAL_BCAST_LIMIT
# (the kNN family's brute pass broadcasts its points, so at 0 it takes
# the ring rounds), and those of them that join a fixture layer's shape
# index
BYTE_GATED = [
    "dedup_clusters",
    "dedup_jaccard_pairs",
    "s2_boolean_counts",
    "s2_boolean_degenerate",
    "s2_buffer_contains",
    "s2_edge_crossings",
    "s2_furthest",
    "s2_hausdorff",
    "s2_knn",
    "s2_pip_counts",
    "s2_pip_join",
    "s2_pip_large",
    "s2_stream_tiles",
    "s2_winding_counts",
]
INDEXED = set(BYTE_GATED) - {
    "dedup_clusters", "dedup_jaccard_pairs", "s2_edge_crossings",
    "s2_furthest", "s2_hausdorff", "s2_knn",
}
BROADCAST_OP = re.compile(r"Broadcast(Exchange|HashJoin|NestedLoopJoin)")


@pytest.mark.parametrize("name", BYTE_GATED)
def test_forced_large_side_matches_oracle(
    spark, ddb, name, monkeypatch, sql_execs, large_side
):
    """With the byte limit at 0 and Spark's own broadcast threshold off,
    every gate takes its large side (shuffle joins, a persisted index,
    distributed CC rounds) and the rows still match the oracle."""
    from s2geo_spark import contract
    from s2geo_spark.operators import dedup

    indexes, rounds = [], []
    layer_index, star_components = contract._layer_index, dedup._star_components
    monkeypatch.setattr(
        contract, "_layer_index", lambda *a: indexes.append(layer_index(*a)) or indexes[-1]
    )
    monkeypatch.setattr(
        dedup, "_star_components", lambda *a: rounds.append(a) or star_components(*a)
    )
    mark = sql_execs.mark()
    _assert_matches_oracle(spark, ddb, name)
    ran = sql_execs.plans_since(mark)
    assert ran and not any(BROADCAST_OP.search(p) for p in ran), name
    if name in INDEXED:
        # each stayed persisted: its applyInPandas build is in its plan
        plans = [i._jdf.queryExecution().executedPlan().toString() for i in indexes]
        assert plans and all("FlatMapGroupsInPandas" in p for p in plans)
    assert bool(rounds) == (name == "dedup_clusters")


@pytest.mark.parametrize("name", ["s2_furthest", "s2_hausdorff", "s2_knn"])
def test_forced_ring_side_matches_oracle(spark, ddb, name, monkeypatch, sql_execs):
    """With BRUTE_MAX_PAIRS at 0 the kNN family runs the density-tiered
    ring rounds instead of the broadcast brute pass, and the rows still
    match the oracle."""
    from s2geo_spark.operators import knn

    monkeypatch.setattr(knn, "BRUTE_MAX_PAIRS", 0)
    mark = sql_execs.mark()
    _assert_matches_oracle(spark, ddb, name)
    ran = sql_execs.plans_since(mark)
    assert ran and not any("BroadcastNestedLoopJoin" in p for p in ran), name


# limits that tests patch, so a gate must read them when it is called
PATCHED_LIMITS = {"SPATIAL_BCAST_LIMIT", "BRUTE_MAX_PAIRS"}


def _limit_defaults(tree):
    """Names of the defs whose default argument values read a patched
    limit (bound once, when the def runs: a patched limit never reaches
    them)."""
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        defaults = node.args.defaults + [d for d in node.args.kw_defaults if d]
        for sub in (n for d in defaults for n in ast.walk(d)):
            if {getattr(sub, "id", None), getattr(sub, "attr", None)} & PATCHED_LIMITS:
                yield getattr(node, "name", "<lambda>")


@pytest.mark.parametrize(
    "src",
    ["def f(x=SPATIAL_BCAST_LIMIT): pass",
     "def f(*, x=spatial.SPATIAL_BCAST_LIMIT // 2): pass",
     "g = lambda x=SPATIAL_BCAST_LIMIT: x",
     "def f(q, p, max_pairs=knn.BRUTE_MAX_PAIRS): pass"],
)
def test_guard_catches_limit_defaults(src):
    assert list(_limit_defaults(ast.parse(src))) != []


def test_no_limit_default_arguments():
    pkg = pathlib.Path(s2geo_spark.__file__).parent
    found = [
        f"{path.relative_to(pkg)}:{name}"
        for path in sorted(pkg.rglob("*.py"))
        for name in _limit_defaults(ast.parse(path.read_text()))
    ]
    assert found == [], "read limits when called: " + ", ".join(found)


# the spatial vocabulary's primitives, owned by functions/ and kernel/:
# Catalyst degrees -> radians (the unit-vector transform's first step)
# and the ring-cell kernel
VOCABULARY = {("pyspark.sql.functions", "radians"), ("s2geo_spark.kernel.cellid_v1", "ring_cells")}
_COMPREHENSIONS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _vocabulary_uses(tree):
    """Names in VOCABULARY the code imports or reads as an attribute of a
    module alias (`F.radians`, `v1.ring_cells`, `from ... import
    radians`), and s2_parent called in a comprehension: an ancestor-term
    array, which functions.s2_ancestors builds."""
    modules = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                modules[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                if (node.module, a.name) in VOCABULARY:
                    yield a.name
                modules[a.asname or a.name] = f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (modules.get(node.value.id), node.attr) in VOCABULARY
        ):
            yield node.attr
        elif isinstance(node, _COMPREHENSIONS):
            for call in ast.walk(node):
                if isinstance(call, ast.Call) and "s2_parent" in (
                    getattr(call.func, "attr", None), getattr(call.func, "id", None)
                ):
                    yield "s2_parent"


@pytest.mark.parametrize(
    "src",
    ["from pyspark.sql import functions as F\nF.radians(c)",
     "import pyspark.sql.functions as G\nG.radians(c)",
     "from pyspark.sql.functions import radians",
     "from s2geo_spark.kernel import cellid_v1 as v1\nv1.ring_cells(a, b)",
     "from s2geo_spark.kernel.cellid_v1 import ring_cells",
     "F.array(*[sf.s2_parent('cell', L) for L in levels])",
     "F.array(*(s2_parent(c, L) for L in levels))"],
)
def test_guard_catches_vocabulary(src):
    assert list(_vocabulary_uses(ast.parse(src))) != []


def test_vocabulary_lives_in_functions():
    """Unit vectors, rings and ancestor terms are built by
    functions.xyz_cols, functions.s2_ring and functions.s2_ancestors;
    operators call them instead of re-deriving them."""
    pkg = pathlib.Path(s2geo_spark.__file__).parent
    found = [
        f"{path.relative_to(pkg)}:{name}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).parts[0] not in ("functions", "kernel")
        for name in _vocabulary_uses(ast.parse(path.read_text()))
    ]
    assert found == [], "use functions.xyz_cols / s2_ring / s2_ancestors: " + ", ".join(found)


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
