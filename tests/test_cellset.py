"""Relational cell-union algebra vs the kernel's per-union oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geo_spark.kernel import cellid_v1 as v1
from s2geo_spark.kernel import cellunion, coverer, regions
from s2geo_spark.operators import cellset

RNG = np.random.default_rng(33)

CAPS = [
    (0, 40.0, -74.0, 3.0),
    (1, 41.0, -73.0, 3.0),   # overlaps 0
    (2, -30.0, 100.0, 5.0),  # disjoint from 0/1
    (3, 40.5, -73.5, 0.5),   # inside 0 ∪ 1 region
]


@pytest.fixture(scope="module")
def unions():
    out = {}
    for cid, la, lo, r in CAPS:
        cap = regions.Cap.from_latlng_radius_degrees(la, lo, r)
        out[cid] = coverer.get_covering(cap, max_cells=12)
    return out


@pytest.fixture(scope="module")
def sets_df(spark, unions):
    rows = [
        (cid, int(np.int64(c))) for cid, cells in unions.items() for c in cells
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["set_id", "cell"])
    )


def test_set_intersections_matches_kernel(spark, unions, sets_df):
    a = sets_df.select(F.col("set_id").alias("a_id"), "cell")
    b = sets_df.select(F.col("set_id").alias("b_id"), "cell")
    got = {
        (r["a_id"], r["b_id"])
        for r in cellset.set_intersections(a, b).collect()
    }
    for i in unions:
        for j in unions:
            want = bool(cellunion.intersects_id(unions[i], unions[j]).any()) or bool(
                cellunion.intersects_id(unions[j], unions[i]).any()
            )
            assert ((i, j) in got) == want, (i, j, want)


def test_cells_contain_points(spark, unions, sets_df):
    pts = pd.DataFrame(
        {
            "point_id": np.arange(4, dtype=np.int64),
            "lat": [40.0, -30.0, 0.0, 40.8],
            "lon": [-74.0, 100.0, 0.0, -73.2],
        }
    )
    got = {
        (r["set_id"], r["point_id"])
        for r in cellset.cells_contain_points(
            sets_df, spark.createDataFrame(pts)
        ).collect()
    }
    for pid in range(4):
        leaf = v1.from_latlng(
            np.array([pts["lat"][pid]]), np.array([pts["lon"][pid]])
        )
        for sid, cells in unions.items():
            want = bool(cellunion.contains_id(cells, leaf)[0])
            assert ((sid, pid) in got) == want, (sid, pid)


def test_set_contains_set(spark, unions, sets_df):
    a = sets_df.select(F.col("set_id").alias("a_id"), "cell")
    b = sets_df.select(F.col("set_id").alias("b_id"), "cell")
    got = {(r["a_id"], r["b_id"]) for r in cellset.set_contains_set(a, b).collect()}
    for i in unions:
        for j in unions:
            want = bool(cellunion.contains_id(unions[i], unions[j]).all())
            # our relational version tests cell-wise containment (same as
            # the kernel's contains over each cell)
            assert ((i, j) in got) == want, (i, j, want)


def test_set_union_normalized(spark, unions, sets_df):
    merged = cellset.set_union(
        sets_df.filter(F.col("set_id") == 0),
        sets_df.filter(F.col("set_id") == 1).withColumn("set_id", F.lit(0).cast("long")),
    ).toPandas()
    want = cellunion.normalize(
        np.concatenate([unions[0], unions[1]])
    )
    got = np.sort(merged["cell"].to_numpy().view(np.uint64))
    assert (got == want).all()


def test_set_intersection_cells(spark, unions, sets_df):
    a = sets_df.filter(F.col("set_id") == 0).select(
        F.lit(0).cast("long").alias("a_id"), "cell"
    )
    b = sets_df.filter(F.col("set_id") == 3).select(
        F.lit(3).cast("long").alias("b_id"), "cell"
    )
    cells = cellset.set_intersection_cells(a, b).toPandas()
    got = cellunion.normalize(cells["cell"].to_numpy().view(np.uint64))
    # kernel oracle: cells of either union contained in the other
    u0, u3 = unions[0], unions[3]
    picks = []
    for c in u3:
        if cellunion.contains_id(u0, np.array([c]))[0]:
            picks.append(c)
    for c in u0:
        if cellunion.contains_id(u3, np.array([c]))[0]:
            picks.append(c)
    want = cellunion.normalize(np.array(picks, dtype=np.uint64))
    assert (got == want).all()


def test_set_difference_matches_kernel(spark, unions, sets_df):
    # A \ B for every ordered pair, aligned on a shared set_id per pair.
    for i in unions:
        for j in unions:
            if i == j:
                continue
            a = sets_df.filter(F.col("set_id") == i).withColumn(
                "set_id", F.lit(0).cast("long")
            )
            b = sets_df.filter(F.col("set_id") == j).withColumn(
                "set_id", F.lit(0).cast("long")
            )
            got = cellset.set_difference(a, b).toPandas()
            got_cells = cellunion.normalize(
                got["cell"].to_numpy().view(np.uint64)
            )
            want = cellunion.normalize(
                cellunion.difference(unions[i], unions[j])
            )
            assert (got_cells == want).all(), (i, j)


def test_set_intersection_cells_no_cartesian(spark, sets_df):
    a = sets_df.select(F.col("set_id").alias("a_id"), "cell")
    b = sets_df.select(F.col("set_id").alias("b_id"), "cell")
    plan = cellset.set_intersection_cells(a, b)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_null_and_nan_points_are_in_no_set(spark):
    # the id 0 of a null or NaN coordinate must not become the first
    # face-0 cell through its ancestors
    sets = spark.createDataFrame([(0, 1 << 40)], "set_id long, cell long")
    pts = spark.createDataFrame(
        [(0, None, 5.0), (1, float("nan"), 5.0), (2, 10.0, None)],
        "point_id long, lat double, lon double",
    )
    assert cellset.cells_contain_points(sets, pts).collect() == []


def _random_unions(rng):
    """Seeded normalized unions of levels 4-12 cells in one box: four
    mixed sets drawn partly from a shared pool (equal cells across sets),
    a set of descendants of each (nested cells, contained sets) and two
    sets of fine cells (disjoint pairs)."""

    def cells(n, lo, hi):
        leaf = v1.from_latlng(rng.uniform(30, 40, n), rng.uniform(10, 20, n))
        levels = rng.integers(lo, hi + 1, n)
        return np.array([v1.parent(c, int(L)) for c, L in zip(leaf, levels)], dtype=np.uint64)

    def descendants(u, n):
        out = []
        for c in rng.choice(u, n):
            span = int(v1.range_max(c) - v1.range_min(c)) // 2
            leaf = v1.range_min(c) + np.uint64(2 * int(rng.integers(0, span + 1)))
            out.append(v1.parent(leaf, int(rng.integers(v1.level(c), 13))))
        return np.array(out, dtype=np.uint64)

    pool = cells(30, 4, 12)
    mixed = [
        cellunion.normalize(np.concatenate([rng.choice(pool, 6, replace=False), cells(3, 6, 12)]))
        for _ in range(4)
    ]
    nested = [descendants(u, 4) for u in mixed]
    fine = [cells(5, 9, 12) for _ in range(2)]
    return dict(enumerate(cellunion.normalize(u) for u in mixed + nested + fine))


def test_random_unions_match_kernel(spark):
    rng = np.random.default_rng(16)
    unions = _random_unions(rng)
    rows = [(sid, int(np.int64(c))) for sid, cs in unions.items() for c in cs]
    sets = spark.createDataFrame(pd.DataFrame(rows, columns=["set_id", "cell"]))
    a = sets.select(F.col("set_id").alias("a_id"), "cell")
    b = sets.select(F.col("set_id").alias("b_id"), "cell")

    pairs = {(r["a_id"], r["b_id"]) for r in cellset.set_intersections(a, b).collect()}
    contains = {(r["a_id"], r["b_id"]) for r in cellset.set_contains_set(a, b).collect()}
    cells = [
        (r["a_id"], r["b_id"], r["cell"] % (1 << 64))
        for r in cellset.set_intersection_cells(a, b).collect()
    ]
    assert len(cells) == len(set(cells)), "set_intersection_cells duplicated a row"
    for i, ui in unions.items():
        for j, uj in unions.items():
            assert ((i, j) in pairs) == bool(cellunion.intersects_id(ui, uj).any()), (i, j)
            assert ((i, j) in contains) == bool(cellunion.contains_id(ui, uj).all()), (i, j)
            want = {int(c) for c in uj[cellunion.contains_id(ui, uj)]} | {
                int(c) for c in ui[cellunion.contains_id(uj, ui)]
            }
            assert {c for x, y, c in cells if (x, y) == (i, j)} == want, (i, j)

    n = 200
    pts = pd.DataFrame({
        "point_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(29, 41, n),
        "lon": rng.uniform(9, 21, n),
    })
    inside = {
        (r["set_id"], r["point_id"])
        for r in cellset.cells_contain_points(sets, spark.createDataFrame(pts)).collect()
    }
    leaf = v1.from_latlng(pts["lat"].to_numpy(), pts["lon"].to_numpy())
    want = {
        (sid, pid)
        for sid, cs in unions.items()
        for pid in np.flatnonzero(cellunion.contains_id(cs, leaf))
    }
    assert inside == want


def test_closest_cell_nested_index_matches_bruteforce(spark):
    from s2geo_spark.kernel import cells as cl
    from s2geo_spark.kernel import s2coords as sc
    from s2geo_spark.operators import knn

    rng = np.random.default_rng(61)
    # every set's cells in one index: nested and equal cells, mixed levels
    index = np.concatenate(list(_random_unions(rng).values()))
    cdf = spark.createDataFrame(pd.DataFrame({
        "label": np.arange(len(index), dtype=np.int64),
        "cell": index.view(np.int64),
    }))
    n, k = 12, 4
    qpdf = pd.DataFrame({
        "query_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(28, 42, n),
        "lon": rng.uniform(8, 22, n),
    })
    got = (
        knn.closest_cell_join(spark.createDataFrame(qpdf), cdf, k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    qx, qy, qz = sc.latlng_degrees_to_xyz(qpdf["lat"].to_numpy(), qpdf["lon"].to_numpy())
    for qi in range(n):
        d2 = cl.distance2_to_points(
            index, *(np.full(len(index), v[qi]) for v in (qx, qy, qz))
        )
        want = np.lexsort((np.arange(len(index)), d2))[:k].tolist()
        sub = got[got["query_id"] == qi]
        assert sub["label"].tolist() == want, (qi, sub["label"].tolist(), want)
        assert np.allclose(sub["dist2"].to_numpy(), d2[want], atol=1e-12)
