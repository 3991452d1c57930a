"""Round-3 robustness fixes (VERDICT r2 'what's wrong' + ADVICE r2):
content-keyed caches, size-gated jaccard broadcasts, covering-intersection
boolean candidates, unpersisted kNN round caches, wide-radius expansion,
explicit winding orientations, distributed multi-polygon index prep."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geo_spark import contract
from s2geo_spark.kernel import booleanop as bo
from s2geo_spark.kernel import cellid_v1 as v1
from s2geo_spark.kernel import cellunion, loops
from s2geo_spark.kernel import s2coords as sc
from s2geo_spark.operators import booleans, knn, spatial
from s2geo_spark.sources import fixtures as fx

RNG = np.random.default_rng(33)
SF_DIR = "/root/testdata/sf0.001"


def _grid_points(spark, lat0, lon0, half, n):
    lat = lat0 + RNG.uniform(-half, half, n)
    lon = lon0 + RNG.uniform(-half, half, n)
    pdf = pd.DataFrame(
        {"point_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}
    )
    return spark.createDataFrame(pdf), pdf


def _brute_member(pdf, verts):
    x, y, z = sc.latlng_degrees_to_xyz(
        pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    )
    lp = loops.PreparedLoop(verts)
    return set(
        int(i)
        for i in pdf["point_id"].to_numpy()[
            lp.contains_points(np.stack([x, y, z], axis=1))
        ]
    )


class TestCacheKeys:
    def test_same_polygon_id_different_geometry(self, spark):
        """Two index layers reuse polygon_id=1 over the SAME region with
        different geometry; both joins must reflect their own layer (the
        old (polygon_id, cell) anchor memo would reuse the first layer's
        edges — ADVICE r2 medium)."""
        pts, pdf = _grid_points(spark, 47.0, 8.0, 2.0, 400)
        small = loops.make_regular_loop(47.0, 8.0, 0.7, 24)
        big = loops.make_regular_loop(47.0, 8.0, 1.6, 24)
        got = {}
        for name, verts in (("small", small), ("big", big)):
            idx = spatial.build_index_df(
                spatial.polygons_to_df(spark, {1: verts})
            )
            got[name] = set(
                int(r["point_id"])
                for r in spatial.contains_join_indexed(pts, idx)
                .select("point_id")
                .collect()
            )
        assert got["small"] == _brute_member(pdf, small)
        assert got["big"] == _brute_member(pdf, big)
        assert got["small"] < got["big"]  # strictly nested fixtures


class TestBooleanDefaultPairs:
    def _layers(self, spark):
        a_rows, b_rows = [], []
        for pid in fx.BOOL_PAIRS:
            av, bv = fx.bool_pair_loops(pid)
            # spread a/b ids so disjoint combinations exist
            a_rows.append((pid, [av.ravel().tolist()]))
            b_rows.append((pid + 10, [bv.ravel().tolist()]))
        schema = "polygon_id long, loops array<array<double>>"
        return (
            spark.createDataFrame(a_rows, schema),
            spark.createDataFrame(b_rows, schema),
        )

    def test_no_cartesian_and_matches_all_pairs(self, spark):
        a_df, b_df = self._layers(spark)
        dflt = booleans.boolean_join(a_df, b_df, "intersection")
        plan = dflt._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        got = {
            (int(r["a_id"]), int(r["b_id"]))
            for r in dflt.filter(F.col("n_loops") > 0).collect()
        }
        full = booleans.boolean_join(
            a_df, b_df, "intersection", all_pairs=True
        )
        want = {
            (int(r["a_id"]), int(r["b_id"]))
            for r in full.filter(F.col("n_loops") > 0).collect()
        }
        assert got == want
        # fixture pairs 0 and 1 are on opposite sides of the globe: the
        # covering filter must have dropped the cross combinations
        assert got == {(0, 10), (1, 11)}


class TestJaccardSizeGate:
    def test_fallback_matches_broadcast_plan(self, spark):
        base = (
            contract.q_jaccard_pairs(spark, SF_DIR)
            .orderBy("doc_a", "doc_b")
            .collect()
        )
        old = spatial.SPATIAL_BCAST_LIMIT
        spatial.SPATIAL_BCAST_LIMIT = 1  # force the shuffle fallback
        try:
            # plan-assert on the lazy build handle (q_jaccard_pairs now
            # checkpoints the expansion join internally, so its RETURNED
            # plan no longer contains the gated join)
            inter, _sizes, sh, pairs = contract._jaccard_build(spark, SF_DIR)
            opt = inter._jdf.queryExecution().optimizedPlan().toString()
            # the gate dropped the hints: no broadcast hint survives in
            # the optimized logical plan (AQE may still pick broadcast at
            # runtime from REAL sizes — that is the desired behavior)
            assert "ResolvedHint" not in opt
            sh.unpersist()
            pairs.unpersist()
            got = (
                contract.q_jaccard_pairs(spark, SF_DIR)
                .orderBy("doc_a", "doc_b")
                .collect()
            )
        finally:
            spatial.SPATIAL_BCAST_LIMIT = old
        assert got == base

    def test_default_plan_keeps_hints(self, spark):
        inter, _sizes, sh, pairs = contract._jaccard_build(spark, SF_DIR)
        opt = inter._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" in opt or "broadcast" in opt.lower()
        sh.unpersist()
        pairs.unpersist()

    def test_no_leaked_caches_after_query(self, spark):
        # ADVICE r3: q_jaccard_pairs must not leak the shingle/pair caches
        spark.catalog.clearCache()
        contract.q_jaccard_pairs(spark, SF_DIR).count()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), "q_jaccard_pairs leaked cached DataFrames"


class TestKnnUnpersist:
    def test_no_leaked_cache_entries(self, spark, monkeypatch):
        monkeypatch.setattr(knn, "BRUTE_MAX_PAIRS", 0)  # the ring rounds cache
        spark.catalog.clearCache()
        q_pdf = pd.DataFrame(
            {
                "query_id": np.arange(20, dtype=np.int64),
                "lat": RNG.uniform(40, 50, 20),
                "lon": RNG.uniform(5, 15, 20),
            }
        )
        p_pdf = pd.DataFrame(
            {
                "point_id": np.arange(500, dtype=np.int64),
                "lat": RNG.uniform(40, 50, 500),
                "lon": RNG.uniform(5, 15, 500),
            }
        )
        out = knn.knn_join(
            spark.createDataFrame(q_pdf), spark.createDataFrame(p_pdf), k=3
        )
        assert out.count() == 60
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), "knn_join leaked cached DataFrames"

    def test_closest_cell_no_leaked_cache(self, spark):
        spark.catalog.clearCache()
        q_pdf = pd.DataFrame(
            {
                "query_id": np.arange(10, dtype=np.int64),
                "lat": RNG.uniform(-20, 20, 10),
                "lon": RNG.uniform(-20, 20, 10),
            }
        )
        cells = []
        for i in range(40):
            leaf = v1.from_latlng(
                np.array([RNG.uniform(-30, 30)]), np.array([RNG.uniform(-30, 30)])
            )
            cells.append((i, int(v1.parent(leaf, 8).view(np.int64)[0])))
        cdf = spark.createDataFrame(cells, "label long, cell long")
        out = knn.closest_cell_join(
            spark.createDataFrame(q_pdf), cdf, k=2
        )
        assert out.count() == 20
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), "closest_cell_join leaked cached DataFrames"


class TestExpandWideRadius:
    def test_radius_wider_than_face_cell_covers(self):
        """radius > kMinWidth(0): the reference double-expands at level 0
        (s2cell_union.cc:474-478). Sample points at the radius boundary
        from the seed cell center and require coverage."""
        seed_lat, seed_lon = 10.0, 20.0
        leaf = v1.from_latlng(
            np.array([seed_lat]), np.array([seed_lon])
        )
        ids = v1.parent(leaf, 4)
        radius = 1.6  # radians, ~91.7 deg > widest level-0 cell
        expanded = cellunion.expand_by_radius(ids, radius)
        cx, cy, cz = v1.to_point(ids)
        center = np.array([cx[0], cy[0], cz[0]])
        # points exactly `radius` away along many azimuths
        north = np.array([0.0, 0.0, 1.0])
        e1 = north - center * center[2]
        e1 /= np.linalg.norm(e1)
        e2 = np.cross(center, e1)
        az = np.linspace(0, 2 * np.pi, 64, endpoint=False)
        pts = (
            np.cos(radius) * center[None, :]
            + np.sin(radius)
            * (np.cos(az)[:, None] * e1[None, :] + np.sin(az)[:, None] * e2[None, :])
        )
        lat, lon = sc.xyz_to_latlng_degrees(pts[:, 0], pts[:, 1], pts[:, 2])
        plf = v1.from_latlng(lat, lon)
        exp_sorted = np.sort(expanded.view(np.uint64))
        lo = v1.range_min(exp_sorted)
        hi = v1.range_max(exp_sorted)
        for p in plf.view(np.uint64):
            i = np.searchsorted(hi, p)
            assert i < len(lo) and lo[i] <= p <= hi[i], "under-covered"


class TestWindingOrientations:
    def test_large_ccw_loop_explicit_orientation(self):
        small = loops.make_regular_loop(0.0, 0.0, 5.0, 16)
        big_ccw = small[::-1].copy()  # left-interior = the big complement
        inside_small = sc.latlng_degrees_to_xyz(
            np.array([0.0]), np.array([0.0])
        )
        far = sc.latlng_degrees_to_xyz(np.array([0.0]), np.array([179.0]))
        pts = np.stack(
            [
                np.concatenate([inside_small[0], far[0]]),
                np.concatenate([inside_small[1], far[1]]),
                np.concatenate([inside_small[2], far[2]]),
            ],
            axis=1,
        )
        inferred = bo.winding_number([big_ccw], pts)
        explicit = bo.winding_number([big_ccw], pts, orientations=[1])
        # inferred treats area>2pi as CW: w = indicator(big) - 1
        assert inferred.tolist() == [-1, 0]
        # explicit CCW: the big left-interior genuinely winds +1
        assert explicit.tolist() == [0, 1]
        with pytest.raises(ValueError):
            bo.winding_number([big_ccw], pts, orientations=[2])
        with pytest.raises(ValueError):
            bo.winding_number([big_ccw], pts, orientations=[1, 1])


class TestQuadsDistributedPrep:
    def test_parity_with_contains_join(self, spark):
        """A multi-polygon table goes through the distributed
        (applyInPandas) index prep and must match the brute oracle."""
        pts, pdf = _grid_points(spark, 47.0, 8.0, 3.0, 400)
        polys = {
            1: loops.parse_loop_text("46:7, 46:9, 48:9, 48:7"),
            2: loops.make_regular_loop(47.0, 8.0, 1.5, 16),
        }
        idx = spatial.build_index_df(spatial.polygons_to_df(spark, polys))
        got = set(
            (int(r["point_id"]), int(r["polygon_id"]))
            for r in spatial.contains_join_indexed(pts, idx)
            .select("point_id", "polygon_id")
            .collect()
        )
        want = set()
        for pid, verts in polys.items():
            want |= {(i, pid) for i in _brute_member(pdf, verts)}
        assert got == want


class TestBufferAndSnapOperators:
    def test_buffer_polygons_hole_negated(self, spark):
        # growing a region SHRINKS its holes; the buffered annulus area
        # must match the two-cap closed form
        from s2geo_spark.operators import booleans
        from s2geo_spark.kernel import booleanop as bo

        shell = loops.make_regular_loop(0.0, 0.0, 10.0, 128)
        hole = loops.make_regular_loop(0.0, 0.0, 4.0, 128)
        polys = spatial.polygons_to_df(spark, {1: [shell, hole]})
        r = np.radians(1.0)
        res = booleans.buffer_polygons(polys, r, max_error=1e-7).collect()
        assert len(res) == 1 and res[0]["n_loops"] == 2
        cap = lambda t: 2 * np.pi * (1 - np.cos(t))
        want = cap(np.radians(11.0)) - cap(np.radians(3.0))
        assert abs(res[0]["area"] - want) / want < 1e-3

    def test_buffer_polygons_hole_annihilated(self, spark):
        from s2geo_spark.operators import booleans

        shell = loops.make_regular_loop(0.0, 0.0, 10.0, 64)
        hole = loops.make_regular_loop(0.0, 0.0, 2.0, 64)
        polys = spatial.polygons_to_df(spark, {1: [shell, hole]})
        res = booleans.buffer_polygons(
            polys, np.radians(2.5), max_error=1e-6
        ).collect()
        assert res[0]["n_loops"] == 1  # hole gone

    def test_boolean_join_snap_level(self, spark):
        # jittered near-coincident borders resolve exactly under joint
        # snapping (boolean_join(snap_level=...))
        from s2geo_spark.operators import booleans
        from s2geo_spark.kernel import measures as m

        rng = np.random.default_rng(8)
        A = loops.parse_loop_text("10:0, 10:10, 20:10, 20:0")
        B = loops.parse_loop_text("10:10, 10:20, 20:20, 20:10")
        jit = B + rng.normal(0, 1e-9, B.shape)
        jit /= np.linalg.norm(jit, axis=1, keepdims=True)
        a_df = spark.createDataFrame(
            [(1, [A.ravel().tolist()])], "polygon_id long, loops array<array<double>>"
        )
        b_df = spark.createDataFrame(
            [(2, [jit.ravel().tolist()])], "polygon_id long, loops array<array<double>>"
        )
        pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
        res = booleans.boolean_join(
            a_df, b_df, "union", pairs=pairs, snap_level=14
        ).collect()
        assert res[0]["n_loops"] == 1
        want = m.loop_area(A) + m.loop_area(B)
        assert abs(res[0]["area"] - want) < 1e-4
