"""Spatial join operators vs brute-force NumPy oracles (FIXTURES.md F5/F6).

PIP join oracle = the same crossing-parity algorithm run directly (the
reference's BruteForceContains pattern, src/s2/s2loop.cc:589-599); kNN
oracle = exhaustive chord-distance scan with (dist, point_id) tie-break
(src/s2/s2closest_point_query_base.h result ordering)."""

import itertools
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geo_spark.kernel import loops, regions, s2coords as sc
from s2geo_spark.memo import memo
from s2geo_spark.operators import knn as knn_op
from s2geo_spark.operators import spatial

RNG = np.random.default_rng(1234)
N_POINTS = 4000


@pytest.fixture(scope="module")
def points_pdf():
    # mix: clustered around polygon areas + uniform sphere
    n_u = N_POINTS // 2
    v = RNG.normal(size=(3, n_u))
    v /= np.sqrt((v * v).sum(axis=0))
    lat_u = np.degrees(np.arcsin(np.clip(v[2], -1, 1)))
    lon_u = np.degrees(np.arctan2(v[1], v[0]))
    n_c = N_POINTS - n_u
    lat_c = 47.0 + RNG.uniform(-2, 2, n_c)
    lon_c = 8.0 + RNG.uniform(-2, 2, n_c)
    return pd.DataFrame(
        {
            "point_id": np.arange(N_POINTS, dtype=np.int64),
            "lat": np.concatenate([lat_u, lat_c]),
            "lon": np.concatenate([lon_u, lon_c]),
        }
    )


@pytest.fixture(scope="module")
def points_df(spark, points_pdf):
    return spark.createDataFrame(points_pdf).repartition(8)


POLYGONS = {
    1: loops.parse_loop_text("46:7, 46:9, 48:9, 48:7"),  # box around cluster
    2: loops.make_regular_loop(47.0, 8.0, 1.5, 16),  # 16-gon, overlapping
    3: loops.make_regular_loop(-30.0, 120.0, 8.0, 512),  # big far k-gon
    4: loops.parse_loop_text("88:0, 88:120, 88:-120"),  # polar triangle
}


def _wide(spark, df):
    """The same rows as a scan of 3 x defaultParallelism splits, with no
    exchange above it (the shape of a wide parquet scan)."""
    n = 3 * spark.sparkContext.defaultParallelism
    wide = spark.createDataFrame(spark.sparkContext.parallelize(df.collect(), n), df.schema)
    assert wide.rdd.getNumPartitions() == n
    return wide


def _joins(df):
    """Join operators in df's executed plan, once it has run (AQE's
    initial plan, printed after the final one, is not counted)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join", final)


def _indexed_join(spark, points, polygons):
    return spatial.contains_join_indexed(
        points, spatial.build_index_df(spatial.polygons_to_df(spark, polygons))
    )


class TestContainsJoin:
    def test_matches_bruteforce(self, spark, points_df, points_pdf):
        got = (
            _indexed_join(spark, points_df, POLYGONS)
            .select("point_id", "polygon_id")
            .toPandas()
            .sort_values(["point_id", "polygon_id"])
            .reset_index(drop=True)
        )
        # oracle
        x, y, z = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        pts = np.stack([x, y, z], axis=1)
        rows = []
        for pid, verts in POLYGONS.items():
            lp = loops.PreparedLoop(verts)
            # scalar reference path — fully independent of the batched path
            inside = np.array(
                [lp._contains_point_scalar(p) for p in pts], dtype=bool
            )
            for idx in np.nonzero(inside)[0]:
                rows.append((int(points_pdf["point_id"].iloc[idx]), pid))
        want = (
            pd.DataFrame(rows, columns=["point_id", "polygon_id"])
            .sort_values(["point_id", "polygon_id"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), (len(got), len(want))
        assert (got["point_id"].to_numpy() == want["point_id"].to_numpy()).all()
        assert (got["polygon_id"].to_numpy() == want["polygon_id"].to_numpy()).all()

    def test_boundary_vertex_points(self, spark):
        # points exactly on polygon vertices/edges: SEMI_OPEN determinism —
        # spark path must agree with the scalar exact path
        verts = loops.parse_loop_text("10:10, 10:12, 12:12, 12:10")
        lp = loops.PreparedLoop(verts)
        vlat, vlng = sc.xyz_to_latlng_degrees(
            verts[:, 0], verts[:, 1], verts[:, 2]
        )
        edge_mid = 0.5 * (verts[0] + verts[1])
        edge_mid /= np.linalg.norm(edge_mid)
        mlat, mlng = sc.xyz_to_latlng_degrees(
            edge_mid[None, 0], edge_mid[None, 1]
        ) if False else sc.xyz_to_latlng_degrees(
            np.array([edge_mid[0]]), np.array([edge_mid[1]]), np.array([edge_mid[2]])
        )
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(5, dtype=np.int64),
                "lat": np.concatenate([vlat, mlat]),
                "lon": np.concatenate([vlng, mlng]),
            }
        )
        df = spark.createDataFrame(pdf)
        got = set(
            _indexed_join(spark, df, {7: verts})
            .select("point_id")
            .toPandas()["point_id"]
        )
        x, y, z = sc.latlng_degrees_to_xyz(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        want = {
            int(pdf["point_id"].iloc[i])
            for i in range(5)
            if lp._contains_point_scalar(np.array([x[i], y[i], z[i]]))
        }
        assert got == want


class TestCapJoin:
    def test_matches_chord_oracle(self, spark, points_df, points_pdf):
        caps = [
            (0, 47.0, 8.0, 1.0),
            (1, -10.0, 100.0, 15.0),
            (2, 89.0, 0.0, 3.0),
        ]
        got = (
            spatial.cap_contains_join(points_df, caps)
            .select("point_id", "cap_id")
            .toPandas()
        )
        x, y, z = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        want_pairs = set()
        for cap_id, clat, clon, r in caps:
            cap = regions.Cap.from_latlng_radius_degrees(clat, clon, r)
            inside = cap.contains_points(x, y, z)
            for idx in np.nonzero(inside)[0]:
                want_pairs.add((int(points_pdf["point_id"].iloc[idx]), cap_id))
        got_pairs = set(zip(got["point_id"], got["cap_id"]))
        assert got_pairs == want_pairs

    def test_null_coordinates_drop(self, spark):
        df = spark.createDataFrame(
            [(0, 47.0, 8.0), (1, None, 8.0), (2, float("nan"), 8.0), (3, 47.0, None)],
            "point_id long, lat double, lon double",
        )
        got = spatial.cap_contains_join(df, [(0, 47.0, 8.0, 1.0)]).collect()
        assert [(r["point_id"], r["cap_id"]) for r in got] == [(0, 0)]


class TestKnnJoin:
    def test_matches_bruteforce(self, spark, points_df, points_pdf):
        qpdf = pd.DataFrame(
            {
                "query_id": np.arange(25, dtype=np.int64),
                "lat": np.concatenate(
                    [47.0 + RNG.uniform(-1, 1, 15), RNG.uniform(-80, 80, 10)]
                ),
                "lon": np.concatenate(
                    [8.0 + RNG.uniform(-1, 1, 15), RNG.uniform(-180, 180, 10)]
                ),
            }
        )
        k = 5
        got = (
            knn_op.knn_join(spark.createDataFrame(qpdf), points_df, k=k)
            .orderBy("query_id", "rank")
            .toPandas()
        )
        # oracle: exhaustive chord scan
        px, py, pz = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        qx, qy, qz = sc.latlng_degrees_to_xyz(
            qpdf["lat"].to_numpy(), qpdf["lon"].to_numpy()
        )
        for qi in range(len(qpdf)):
            d2 = (px - qx[qi]) ** 2 + (py - qy[qi]) ** 2 + (pz - qz[qi]) ** 2
            order = np.lexsort((points_pdf["point_id"].to_numpy(), d2))
            want_ids = points_pdf["point_id"].to_numpy()[order[:k]].tolist()
            got_ids = got[got["query_id"] == qi]["point_id"].tolist()
            assert got_ids == want_ids, f"query {qi}"


class TestKnnBrutePath:
    """The size-gated broadcast brute-force fast path must return exactly
    the density-tiered ring-search result (same rows, same tie rule) —
    and actually be the BroadcastNestedLoop plan it claims to be, with no
    Python anywhere."""

    def test_brute_equals_rings(self, spark, points_df, points_pdf, monkeypatch):
        """Rows with a null or NaN coordinate drop on both sides, so brute
        force, the rings and the oracle over the valid rows agree (a null
        dist2 used to sort first on the brute path)."""
        qpdf = pd.DataFrame(
            {
                "query_id": np.arange(12, dtype=np.int64),
                "lat": np.concatenate(
                    [47.0 + RNG.uniform(-1, 1, 6), RNG.uniform(-70, 70, 6)]
                ),
                "lon": np.concatenate(
                    [8.0 + RNG.uniform(-1, 1, 6), RNG.uniform(-180, 180, 6)]
                ),
            }
        )
        schema = "id long, lat double, lon double"
        q = spark.createDataFrame(qpdf).unionByName(
            spark.createDataFrame([(12, None, 8.0)], schema).withColumnRenamed("id", "query_id")
        )
        pts = points_df.unionByName(
            spark.createDataFrame(
                [(N_POINTS, None, 8.0), (N_POINTS + 1, 47.0, None),
                 (N_POINTS + 2, float("nan"), 8.0)],
                schema,
            ).withColumnRenamed("id", "point_id")
        )
        px, py, pz = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        qx, qy, qz = sc.latlng_degrees_to_xyz(
            qpdf["lat"].to_numpy(), qpdf["lon"].to_numpy()
        )
        d2 = (
            (qx[:, None] - px) ** 2 + (qy[:, None] - py) ** 2 + (qz[:, None] - pz) ** 2
        )
        for k in (1, 4):
            want = pd.DataFrame(
                [
                    (qi, rank + 1, int(pid))
                    for qi in range(len(qpdf))
                    for rank, pid in enumerate(
                        np.lexsort((points_pdf["point_id"].to_numpy(), d2[qi]))[:k]
                    )
                ],
                columns=["query_id", "rank", "point_id"],
            )
            brute = knn_op.knn_join(q, pts, k=k)
            plan = brute._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoop" in plan  # the fast path was taken
            b = (
                brute.orderBy("query_id", "rank")
                .select("query_id", "rank", "point_id")
                .toPandas()
            )
            assert b.astype("int64").equals(want), f"k={k}"
            with monkeypatch.context() as m:
                m.setattr(knn_op, "BRUTE_MAX_PAIRS", 0)
                rings = knn_op.knn_join(q, pts, k=k)
            r = (
                rings.orderBy("query_id", "rank")
                .select("query_id", "rank", "point_id")
                .toPandas()
            )
            assert b.equals(r), f"k={k}"
            plan = rings._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoop" not in plan  # the ring side ran

    def test_brute_gate_reads_point_bytes(self, spark, points_df, monkeypatch):
        """The points' broadcast (32 B each) must fit the byte limit too."""
        q = spark.createDataFrame([(0, 47.0, 8.0)], "query_id long, lat double, lon double")
        for limit, brute in ((32 * N_POINTS, True), (32 * N_POINTS - 1, False)):
            monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", limit)
            plan = knn_op.knn_join(q, points_df, k=2)._jdf.queryExecution()
            assert ("BroadcastNestedLoop" in plan.executedPlan().toString()) == brute

    def test_brute_path_runs_no_python(self, spark, points_df, sql_execs):
        q = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": np.arange(25, dtype=np.int64),
                    "lat": RNG.uniform(-60, 60, 25),
                    "lon": RNG.uniform(-180, 180, 25),
                }
            )
        )
        for k in (1, 4):
            mark = sql_execs.mark()
            knn_op.knn_join(q, points_df, k=k).collect()
            ran = sql_execs.plans_since(mark)
            assert any("BroadcastNestedLoop" in p for p in ran), k
            assert not any("ArrowEvalPython" in p for p in ran), k


class TestContainsJoinIndexed:
    """Shape-indexed path (distributed prep + per-cell edge clipping) must
    agree exactly with the scalar brute oracle — including a 512-gon whose
    index subdivides to <=16 edges/cell."""

    def test_matches_bruteforce(self, spark, points_df, points_pdf):
        polys = spatial.polygons_to_df(spark, POLYGONS)
        index_df = spatial.build_index_df(polys)
        got = (
            spatial.contains_join_indexed(points_df, index_df)
            .select("point_id", "polygon_id")
            .toPandas()
            .sort_values(["point_id", "polygon_id"])
            .reset_index(drop=True)
        )
        x, y, z = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        pts = np.stack([x, y, z], axis=1)
        rows = []
        for pid, verts in POLYGONS.items():
            lp = loops.PreparedLoop(verts)
            inside = lp.contains_points(pts)
            for idx in np.nonzero(inside)[0]:
                rows.append((int(points_pdf["point_id"].iloc[idx]), pid))
        want = (
            pd.DataFrame(rows, columns=["point_id", "polygon_id"])
            .sort_values(["point_id", "polygon_id"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want), (len(got), len(want))
        assert (got["point_id"].to_numpy() == want["point_id"].to_numpy()).all()
        assert (got["polygon_id"].to_numpy() == want["polygon_id"].to_numpy()).all()

    def test_wide_scan_feeds_residual_through_rebalance(self, spark, points_df, localized):
        """However many splits the scan has, the Python residual reads
        ONE round-robin rebalance exchange, so AQE sizes its tasks by
        candidate bytes instead of running one Python task per split."""
        from s2geo_spark import contract

        index_df = contract._pip_index(spark)
        assert localized(index_df)
        joined = spatial.contains_join_indexed(_wide(spark, points_df), index_df)
        got = sorted((r["point_id"], r["polygon_id"]) for r in joined.collect())
        assert got == _join_rows(points_df, index_df) and len(got) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(
            r"MapInPandas [^\n]*\n\s*\+- AQEShuffleRead [^\n]*\n"
            r"\s*\+- ShuffleQueryStage [^\n]*\n"
            r"\s*\+- Exchange RoundRobinPartitioning\(\d+\), REBALANCE_PARTITIONS_BY_NONE",
            plan,
        ), plan[:3000]

    def test_index_bounds_edges_per_cell(self, spark):
        big = {7: loops.make_regular_loop(40.0, -100.0, 6.0, 2048)}
        index_df = spatial.build_index_df(spatial.polygons_to_df(spark, big))
        pdf = index_df.toPandas()
        n_edges = pdf["edges"].apply(lambda e: len(e) // 6)
        assert n_edges.max() <= 16
        assert (pdf.loc[pdf["is_interior"], "edges"].apply(len) == 0).all()
        # residual work scales with edges-per-cell: a 2048-gon boundary
        # cell carries at most 16 of the 2048 edges
        assert len(pdf) > 64

    def test_emit_cell_matches_leaf(self, spark, points_df):
        polys = spatial.polygons_to_df(spark, {1: POLYGONS[1]})
        index_df = spatial.build_index_df(polys)
        # leaf cell emitted must equal the kernel encode of (lat, lon)
        pdf = (
            spatial.contains_join_indexed(points_df, index_df, emit_cell=True)
            .select("point_id", "cell", "lat", "lon")
            .toPandas()
        )
        from s2geo_spark.kernel import cellid_v1 as v1

        want = v1.from_latlng(
            pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
        ).view(np.int64)
        assert (pdf["cell"].to_numpy() == want).all()


def _star_loop(rng, clat, clon, radius_deg, k):
    """Seeded star-shaped (generally non-convex) CCW loop around a center."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, k))
    r = radius_deg * rng.uniform(0.3, 1.0, k)
    lat = clat + r * np.sin(ang)
    lon = clon + r * np.cos(ang) / np.cos(np.radians(clat))
    return regions.latlng_to_unit(lat, lon)


def _join_rows(points, index_df):
    return sorted(
        (int(r["point_id"]), int(r["polygon_id"]))
        for r in spatial.contains_join_indexed(points, index_df)
        .select("point_id", "polygon_id")
        .collect()
    )


class TestContainsParity:
    """The one containment path against the kernel ground truth
    (PreparedLoop.contains_points) on every side of its two gates:
    {localized, persisted index} x {size-gated, forced-shuffle joins}."""

    def test_random_loops_all_gate_sides(self, spark, monkeypatch, localized):
        rng = np.random.default_rng(2024)
        polys, centers = {}, []
        for pid in range(1, 5):
            clat, clon = rng.uniform(-60, 60), rng.uniform(-180, 180)
            polys[pid] = _star_loop(rng, clat, clon, 3.0, int(rng.integers(5, 40)))
            centers.append((clat, clon, 3.0))
        # loop with a hole (XOR of nested loops)
        polys[5] = [
            loops.make_regular_loop(20.0, 30.0, 4.0, 48),
            _star_loop(rng, 20.0, 30.0, 2.0, 17),
        ]
        centers.append((20.0, 30.0, 4.0))
        # around the face-0/1/2 corner, where a null or NaN coordinate's
        # (face, i, j) = (2, 0, 0) lands if such rows reach the join
        corner = (np.degrees(np.arctan(1 / np.sqrt(2))), 45.0, 3.0)
        polys[6] = loops.make_regular_loop(*corner, 24)
        centers.append(corner)
        lat, lon = [], []
        for clat, clon, r in centers:
            lat.append(clat + rng.uniform(-1.3 * r, 1.3 * r, 500))
            lon.append(clon + rng.uniform(-1.3 * r, 1.3 * r, 500) / np.cos(np.radians(clat)))
        v = rng.normal(size=(3, 500))
        v /= np.sqrt((v * v).sum(axis=0))
        lat.append(np.degrees(np.arcsin(v[2])))
        lon.append(np.degrees(np.arctan2(v[1], v[0])))
        # every loop vertex too: SEMI_OPEN must pick exactly one side
        for vs in polys.values():
            for lp in vs if isinstance(vs, list) else [vs]:
                vlat, vlon = sc.xyz_to_latlng_degrees(lp[:, 0], lp[:, 1], lp[:, 2])
                lat.append(vlat)
                lon.append(vlon)
        pdf = pd.DataFrame({"lat": np.concatenate(lat), "lon": np.concatenate(lon)})
        pdf.insert(0, "point_id", np.arange(len(pdf), dtype=np.int64))
        n = len(pdf)
        # a null-lat and a NaN-lon row: neither may join on any side
        bad = spark.createDataFrame(
            [(n, None, 45.0), (n + 1, 35.0, float("nan"))],
            "point_id long, lat double, lon double",
        )
        pts = spark.createDataFrame(pdf).unionByName(bad)
        # the same rows split wider than the session: the residual must
        # not depend on how the scan is split
        inputs = {"narrow": pts, "wide": _wide(spark, pts)}

        x, y, z = sc.latlng_degrees_to_xyz(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        xyz = np.stack([x, y, z], axis=1)
        want = []
        for pid, vs in polys.items():
            inside = np.zeros(len(pdf), dtype=bool)
            for lp in vs if isinstance(vs, list) else [vs]:
                inside ^= loops.PreparedLoop(lp).contains_points(xyz)
            want += [(int(i), pid) for i in np.nonzero(inside)[0]]
        want.sort()
        assert len(want) > 300

        built = spatial.build_index_df(spatial.polygons_to_df(spark, polys))
        persisted = built.persist()
        local_idx = spatial.localize_index(spark, built)
        assert localized(local_idx) and not localized(persisted)
        sides = {"localized": local_idx, "persisted": persisted}
        for (name, idx), (shape, p) in itertools.product(sides.items(), inputs.items()):
            assert _join_rows(p, idx) == want, (name, shape)
        # forced shuffle: no hint, and no automatic broadcast either
        monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", 0)
        auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for (name, idx), (shape, p) in itertools.product(sides.items(), inputs.items()):
                shuffled = spatial.contains_join_indexed(p, idx)
                plan = shuffled._jdf.queryExecution().executedPlan().toString()
                assert "BroadcastHashJoin" not in plan, (name, shape)
                assert _join_rows(p, idx) == want, (name, shape)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
            persisted.unpersist()

    def test_duplicate_keys_localize_like_persist(self, spark, points_df, localized):
        from s2geo_spark.sources import fixtures as fx

        def build(polys):
            return spatial.build_index_df(spatial.polygons_to_df(spark, polys))

        small = {1: loops.make_regular_loop(47.0, 8.0, 0.7, 24)}
        big = {1: loops.make_regular_loop(47.0, 8.0, 1.6, 24)}
        # small twice: duplicate (polygon_id, cell) keys are guaranteed
        union = build(small).unionByName(build(big)).unionByName(build(small))
        keys = union.select("polygon_id", "cell")
        assert keys.distinct().count() < keys.count()
        local_idx = spatial.localize_index(spark, union)
        reference = build(small).unionByName(build(big)).unionByName(build(small))
        joined = spatial.contains_join_indexed(points_df, local_idx)
        got = sorted((r["point_id"], r["polygon_id"]) for r in joined.collect())
        assert got == _join_rows(points_df, reference) and len(got) > 0
        # the one-payload-per-key broadcast is skipped: the detail join ran
        assert len(_joins(joined)) == 2
        # the fixture layers behind the flagship and s2_pip_* still localize
        for layer in (fx.pip_loops(), fx.large_pip_loops()):
            assert localized(spatial.localize_index(spark, build(layer)))


class TestKnnSkewed:
    """Density-tiered kNN: hot-city cluster + empty-ocean queries — the
    skew fixture from VERDICT r1 #8. Exact vs exhaustive numpy oracle and
    no cartesian product anywhere in the executed plan."""

    def test_skewed_exact_and_no_cartesian(self, spark, monkeypatch):
        monkeypatch.setattr(knn_op, "BRUTE_MAX_PAIRS", 0)  # the ring rounds
        rng = np.random.default_rng(99)
        # points: 5000 in a dense "city" (0.2 deg), 50 scattered globally
        n_city, n_scatter = 5000, 50
        lat = np.concatenate([
            47.37 + rng.normal(0, 0.1, n_city),
            rng.uniform(-60, 60, n_scatter),
        ])
        lon = np.concatenate([
            8.54 + rng.normal(0, 0.1, n_city),
            rng.uniform(-180, 180, n_scatter),
        ])
        pts = pd.DataFrame({
            "point_id": np.arange(len(lat), dtype=np.int64),
            "lat": lat, "lon": lon,
        })
        # queries: 20 in the city, 10 mid-ocean (nearest point ~1000s km)
        qlat = np.concatenate([
            47.37 + rng.normal(0, 0.05, 20), [-45, -50, 10, 0, -20, 30, -55, 5, -10, 15.0]
        ])
        qlon = np.concatenate([
            8.54 + rng.normal(0, 0.05, 20), [-140, 100, -160, -130, 80, -170, 140, 170, -110, -150.0]
        ])
        qs = pd.DataFrame({
            "query_id": np.arange(len(qlat), dtype=np.int64),
            "lat": qlat, "lon": qlon,
        })
        k = 3
        res = knn_op.knn_join(
            spark.createDataFrame(qs), spark.createDataFrame(pts), k=k
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        got = res.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        # exhaustive oracle
        qx, qy, qz = sc.latlng_degrees_to_xyz(qlat, qlon)
        px, py, pz = sc.latlng_degrees_to_xyz(lat, lon)
        d2 = (
            (qx[:, None] - px[None, :]) ** 2
            + (qy[:, None] - py[None, :]) ** 2
            + (qz[:, None] - pz[None, :]) ** 2
        )
        for qi in range(len(qlat)):
            order = np.lexsort((np.arange(len(lat)), d2[qi]))
            want = order[:k]
            sub = got[got["query_id"] == qi]
            assert sub["point_id"].tolist() == want.tolist(), qi


class TestVertexModels:
    """S2ContainsPointQuery vertex-model matrix
    (s2contains_point_query.h:30-110): OPEN excludes boundary, CLOSED
    includes it, SEMI_OPEN counts each boundary point exactly once across
    loops sharing an edge; off-boundary points agree in all models."""

    def test_matrix(self):
        verts = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        lp = loops.PreparedLoop(verts)
        x, y, _ = sc.latlng_degrees_to_xyz(np.array([0.0]), np.array([5.0]))
        mid = np.array([[x[0], y[0], 0.0]])  # exactly on the equator edge
        interior = np.stack(
            sc.latlng_degrees_to_xyz(np.array([5.0]), np.array([5.0])), 1
        )
        exterior = np.stack(
            sc.latlng_degrees_to_xyz(np.array([-5.0]), np.array([5.0])), 1
        )
        pts = np.concatenate([verts, mid, interior, exterior])
        onb = lp.points_on_boundary(pts)
        assert onb[:5].all() and not onb[5:].any()
        open_m = lp.contains_points(pts, "OPEN")
        closed_m = lp.contains_points(pts, "CLOSED")
        semi = lp.contains_points(pts, "SEMI_OPEN")
        assert not open_m[:5].any()
        assert closed_m[:5].all()
        assert open_m[5] and closed_m[5] and semi[5]
        assert not open_m[6] and not closed_m[6] and not semi[6]

    def test_semi_open_exactly_one(self):
        a = loops.PreparedLoop(loops.parse_loop_text("0:0, 0:10, 10:10, 10:0"))
        b = loops.PreparedLoop(loops.parse_loop_text("-10:0, -10:10, 0:10, 0:0"))
        x, y, _ = sc.latlng_degrees_to_xyz(np.array([0.0]), np.array([5.0]))
        mid = np.array([[x[0], y[0], 0.0]])
        ina = bool(a.contains_points(mid, "SEMI_OPEN")[0])
        inb = bool(b.contains_points(mid, "SEMI_OPEN")[0])
        assert ina != inb
        # CLOSED: both claim it; OPEN: neither
        assert a.contains_points(mid, "CLOSED")[0] and b.contains_points(mid, "CLOSED")[0]
        assert not a.contains_points(mid, "OPEN")[0] and not b.contains_points(mid, "OPEN")[0]

    def test_polygon_model(self):
        shell = loops.parse_loop_text("0:0, 0:20, 20:20, 20:0")
        hole = loops.parse_loop_text("5:5, 5:15, 15:15, 15:5")
        poly = loops.PreparedPolygon([shell, hole])
        probe = np.stack(
            sc.latlng_degrees_to_xyz(
                np.array([10.0, 2.0, -2.0]), np.array([10.0, 10.0, 10.0])
            ),
            1,
        )
        for model in ("SEMI_OPEN", "OPEN", "CLOSED"):
            got = poly.contains_points(probe, model)
            assert got.tolist() == [False, True, False]


class TestBooleanOps:
    """Kernel boolean ops: inclusion-exclusion exactness + point-sampled
    consistency (s2boolean_operation.h semantics)."""

    def test_inclusion_exclusion_and_pip(self):
        from s2geo_spark.kernel import booleanop as bo
        from s2geo_spark.kernel import measures as m
        from s2geo_spark.kernel import overlay

        A = loops.make_regular_loop(0.0, 0.0, 20.0, 128)
        B = loops.make_regular_loop(0.0, 15.0, 20.0, 128)
        ai = bo.region_area(overlay.overlay_boolean([A], [B], "intersection"))
        au = bo.region_area(overlay.overlay_boolean([A], [B], "union"))
        ad = bo.region_area(overlay.overlay_boolean([A], [B], "difference"))
        assert abs(au + ai - m.loop_area(A) - m.loop_area(B)) < 1e-9
        assert abs(ad - (m.loop_area(A) - ai)) < 1e-9
        rng = np.random.default_rng(5)
        v = rng.normal(size=(5000, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        inA = loops.PreparedLoop(A).contains_points(v)
        inB = loops.PreparedLoop(B).contains_points(v)
        for op, want in [
            ("intersection", inA & inB),
            ("union", inA | inB),
            ("difference", inA & ~inB),
        ]:
            got = bo.region_contains_points(
                overlay.overlay_boolean([A], [B], op), v
            )
            assert (got == want).all(), op

    def test_no_crossing_cases(self):
        from s2geo_spark.kernel import booleanop as bo
        from s2geo_spark.kernel import measures as m
        from s2geo_spark.kernel import overlay

        A = loops.make_regular_loop(0.0, 0.0, 20.0, 64)
        far = loops.make_regular_loop(60.0, 120.0, 5.0, 64)
        inner = loops.make_regular_loop(0.0, 0.0, 5.0, 64)
        assert overlay.overlay_boolean([A], [far], "intersection") == []
        assert len(overlay.overlay_boolean([A], [far], "union")) == 2
        hole = overlay.overlay_boolean([A], [inner], "difference")
        assert abs(
            bo.region_area(hole) - (m.loop_area(A) - m.loop_area(inner))
        ) < 1e-12

    def test_degenerate_resolves(self):
        # shared-edge pairs resolve exactly instead of raising (full
        # coverage in test_overlay.py)
        from s2geo_spark.kernel import overlay

        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = loops.parse_loop_text("0:10, 0:20, 10:20, 10:10")  # shares an edge
        assert overlay.overlay_boolean([A], [B], "intersection") == []
        assert len(overlay.overlay_boolean([A], [B], "union")) == 1


class TestFurthestAndClosestCell:
    def test_furthest_matches_bruteforce(self, spark, points_df, points_pdf):
        qpdf = pd.DataFrame(
            {
                "query_id": np.arange(12, dtype=np.int64),
                "lat": RNG.uniform(-70, 70, 12),
                "lon": RNG.uniform(-180, 180, 12),
            }
        )
        k = 4
        got = (
            knn_op.furthest_join(spark.createDataFrame(qpdf), points_df, k=k)
            .orderBy("query_id", "rank")
            .toPandas()
        )
        px, py, pz = sc.latlng_degrees_to_xyz(
            points_pdf["lat"].to_numpy(), points_pdf["lon"].to_numpy()
        )
        qx, qy, qz = sc.latlng_degrees_to_xyz(
            qpdf["lat"].to_numpy(), qpdf["lon"].to_numpy()
        )
        for qi in range(len(qpdf)):
            d2 = (px - qx[qi]) ** 2 + (py - qy[qi]) ** 2 + (pz - qz[qi]) ** 2
            # furthest-k, ties by point_id ascending == nearest to antipode
            order = np.lexsort((points_pdf["point_id"].to_numpy(), -d2))
            want = points_pdf["point_id"].to_numpy()[order[:k]].tolist()
            sub = got[got["query_id"] == qi]
            assert sub["point_id"].tolist() == want, qi
            assert np.allclose(
                sub["dist2"].to_numpy(), np.sort(d2)[::-1][:k], atol=1e-9
            )

    def test_closest_cell_matches_bruteforce(self, spark):
        from s2geo_spark.kernel import cells as cl
        from s2geo_spark.kernel import cellid_v1 as v1

        rng = np.random.default_rng(12)
        # mixed-level cell index: levels 4, 6, 8
        cells_list = []
        for lvl, n in [(4, 20), (6, 40), (8, 60)]:
            leaf = v1.from_latlng(
                rng.uniform(-60, 60, n), rng.uniform(-180, 180, n)
            )
            cells_list.append(v1.parent(leaf, lvl))
        all_cells = np.unique(np.concatenate(cells_list))
        cdf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "label": np.arange(len(all_cells), dtype=np.int64),
                    "cell": all_cells.view(np.int64),
                }
            )
        )
        qpdf = pd.DataFrame(
            {
                "query_id": np.arange(15, dtype=np.int64),
                "lat": rng.uniform(-70, 70, 15),
                "lon": rng.uniform(-180, 180, 15),
            }
        )
        k = 3
        got = (
            knn_op.closest_cell_join(spark.createDataFrame(qpdf), cdf, k=k)
            .orderBy("query_id", "rank")
            .toPandas()
        )
        qx, qy, qz = sc.latlng_degrees_to_xyz(
            qpdf["lat"].to_numpy(), qpdf["lon"].to_numpy()
        )
        for qi in range(len(qpdf)):
            d2 = cl.distance2_to_points(
                np.repeat(all_cells, 1),
                np.full(len(all_cells), qx[qi]),
                np.full(len(all_cells), qy[qi]),
                np.full(len(all_cells), qz[qi]),
            )
            order = np.lexsort((np.arange(len(all_cells)), d2))
            want = order[:k].tolist()
            sub = got[got["query_id"] == qi]
            assert sub["label"].tolist() == want, (qi, sub["label"].tolist(), want)

    def test_closest_cell_null_queries_drop(self, spark):
        from s2geo_spark.kernel import cellid_v1 as v1

        leaf = v1.from_latlng(np.array([47.0, 10.0, -30.0]), np.array([8.0, 20.0, 120.0]))
        cdf = spark.createDataFrame(
            pd.DataFrame({"label": [0, 1, 2], "cell": v1.parent(leaf, 8).view(np.int64)})
        )
        q = spark.createDataFrame(
            [(0, 47.0, 8.0), (1, None, 8.0), (2, float("nan"), 8.0)],
            "query_id long, lat double, lon double",
        )
        got = knn_op.closest_cell_join(q, cdf, k=2).orderBy("rank").collect()
        assert [(r["query_id"], r["label"]) for r in got] == [(0, 0), (0, 1)]
        assert got[0]["dist2"] == 0.0 and got[1]["dist2"] > 0.0

    def test_closest_cell_empty_index(self, spark):
        # like knn_join on no points: no rows, the same output schema
        from s2geo_spark.kernel import cellid_v1 as v1

        leaf = v1.from_latlng(np.array([47.0]), np.array([8.0]))
        cells = spark.createDataFrame(
            pd.DataFrame({"label": [0], "cell": v1.parent(leaf, 8).view(np.int64)})
        )
        q = spark.createDataFrame([(0, 47.0, 8.0)], "query_id long, lat double, lon double")
        want = knn_op.closest_cell_join(q, cells, k=2)
        got = knn_op.closest_cell_join(q, cells.limit(0), k=2)
        assert got.schema == want.schema
        assert got.collect() == []

    def test_distance_join_null_rows_drop(self, spark):
        from s2geo_spark.operators import distance

        rows = [(0, 47.0, 8.0), (1, None, 8.0), (2, float("nan"), 8.0), (3, 47.0, None)]
        schema = "{} long, lat double, lon double"
        left = spark.createDataFrame(rows, schema.format("left_id"))
        right = spark.createDataFrame(rows, schema.format("right_id"))
        got = distance.distance_join(left, right, 1000.0).collect()
        assert [(r["left_id"], r["right_id"]) for r in got] == [(0, 0)]


class TestIndexStatsMemo:
    """memo: index metadata (levels, size estimates) is computed once per
    DataFrame object — repeat joins must not re-run the probe job
    (VERDICT r4 #4)."""

    def test_memo_computes_once(self, spark):
        df = spark.range(3)
        calls = {"n": 0}

        def compute():
            calls["n"] += 1
            return [4, 5]

        assert memo(df, "k", compute) == [4, 5]
        assert memo(df, "k", compute) == [4, 5]
        assert calls["n"] == 1
        # distinct keys are independent
        assert memo(df, "k2", lambda: 7) == 7
        assert df._s2_memo == {"k": [4, 5], "k2": 7}

    def test_indexed_join_skips_stats_job_on_reuse(self, spark, points_df):
        polys = spatial.polygons_to_df(spark, POLYGONS)
        index_df = spatial.build_index_df(polys).persist()
        try:
            first = (
                spatial.contains_join_indexed(points_df, index_df)
                .select("point_id", "polygon_id")
                .collect()
            )
            assert "indexed_stats" in index_df._s2_memo
            # poison this object's agg: a second call must not re-probe
            index_df.agg = None  # type: ignore[method-assign]
            second = (
                spatial.contains_join_indexed(points_df, index_df)
                .select("point_id", "polygon_id")
                .collect()
            )
            assert sorted(map(tuple, first)) == sorted(map(tuple, second))
        finally:
            index_df.unpersist()
