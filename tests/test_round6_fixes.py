"""Round-6 optimization invariants.

The optimizations must not change what any operator computes:
  * localize_index: the LOCAL-relation index must be bit-identical to
    the persisted index, with and without emit_cell, and must survive
    spark.catalog.clearCache() without recomputing the build; a small
    persisted index ships its boundary detail the same way (one
    broadcast, no detail join).
  * set_intersections broadcast_side: same pairs as the unhinted plan.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geo_spark.kernel import loops
from s2geo_spark.operators import spatial
from s2geo_spark.operators.cellset import set_intersections

POLYGONS = {
    1: loops.parse_loop_text("46:7, 46:9, 48:9, 48:7"),
    2: loops.make_regular_loop(47.0, 8.0, 1.5, 16),
    3: loops.make_regular_loop(-30.0, 120.0, 8.0, 256),
}


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(77)
    n = 3000
    lat = np.concatenate(
        [47.0 + rng.uniform(-2, 2, n // 2), rng.uniform(-85, 85, n - n // 2)]
    )
    lon = np.concatenate(
        [8.0 + rng.uniform(-2, 2, n // 2), rng.uniform(-180, 180, n - n // 2)]
    )
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"point_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}
        )
    ).repartition(8)


class TestLocalizedIndexParity:
    def _rows(self, df, emit_cell):
        cols = ["point_id", "polygon_id"] + (["cell"] if emit_cell else [])
        return sorted(tuple(r) for r in df.select(*cols).collect())

    @pytest.mark.parametrize("emit_cell", [False, True])
    def test_local_matches_distributed(self, spark, pts, emit_cell, localized):
        polys = spatial.polygons_to_df(spark, POLYGONS)
        dist_idx = spatial.build_index_df(polys).persist()
        dist_idx.count()
        local_idx = spatial.localize_index(
            spark, spatial.build_index_df(polys)
        )
        assert localized(local_idx)
        a = self._rows(
            spatial.contains_join_indexed(pts, dist_idx, emit_cell=emit_cell),
            emit_cell,
        )
        b = self._rows(
            spatial.contains_join_indexed(pts, local_idx, emit_cell=emit_cell),
            emit_cell,
        )
        dist_idx.unpersist()
        assert a == b
        assert len(a) > 0

    def test_local_survives_clearcache(self, spark, pts, localized):
        polys = spatial.polygons_to_df(spark, POLYGONS)
        local_idx = spatial.localize_index(
            spark, spatial.build_index_df(polys)
        )
        before = self._rows(
            spatial.contains_join_indexed(pts, local_idx), False
        )
        spark.catalog.clearCache()
        after = self._rows(
            spatial.contains_join_indexed(pts, local_idx), False
        )
        assert before == after
        # the localized index is driver-local data: no applyInPandas
        # build appears in its plan, so clearCache cannot trigger a rebuild
        assert localized(local_idx)

    def test_oversized_index_falls_back_to_persist(self, spark, pts, localized):
        polys = spatial.polygons_to_df(spark, POLYGONS)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(spatial, "SPATIAL_BCAST_LIMIT", 1)
            fallback = spatial.localize_index(spark, spatial.build_index_df(polys))
        assert not localized(fallback)
        a = self._rows(spatial.contains_join_indexed(pts, fallback), False)
        local_idx = spatial.localize_index(
            spark, spatial.build_index_df(polys)
        )
        b = self._rows(spatial.contains_join_indexed(pts, local_idx), False)
        fallback.unpersist()
        assert a == b

    def test_local_index_reads_run_no_job(self, spark, pts):
        """Collecting a localized index, and building a join's detail
        broadcast from it, read driver-local rows: no Spark job runs."""
        polys = spatial.polygons_to_df(spark, POLYGONS)
        local_idx = spatial.localize_index(spark, spatial.build_index_df(polys))
        sc_ = spark.sparkContext
        group = "test-localized-index-reads"
        sc_.setJobGroup(group, "localized index reads")
        try:
            rows = local_idx.collect()
            spatial.contains_join_indexed(pts, local_idx)
        finally:
            sc_.setLocalProperty("spark.jobGroup.id", None)
            sc_.setLocalProperty("spark.job.description", None)
        assert len(rows) > 0
        assert list(sc_.statusTracker().getJobIdsForGroup(group)) == []

    def test_persisted_index_ships_detail_once(self, spark, pts):
        """A small persisted index joins through the same one detail
        broadcast as a localized one: the slim join is the only join in
        the executed plan, and the rows are the localized index's."""
        polys = spatial.polygons_to_df(spark, POLYGONS)
        persisted = spatial.build_index_df(polys).persist()
        local_idx = spatial.localize_index(spark, spatial.build_index_df(polys))
        joined = spatial.contains_join_indexed(pts, persisted, emit_cell=True)
        joined = joined.select("point_id", "polygon_id", "cell")
        a = sorted(tuple(r) for r in joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        b = self._rows(
            spatial.contains_join_indexed(pts, local_idx, emit_cell=True), True
        )
        persisted.unpersist()
        assert a == b and len(a) > 0
        assert "isFinalPlan=true" in plan
        assert final.count("BroadcastHashJoin") == 1, final
        assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final


class TestSetIntersectionsBroadcastSide:
    def _sets(self, spark, seed, n_sets, per_set):
        rng = np.random.default_rng(seed)
        import pandas as pd

        from s2geo_spark.kernel import cellid_v1 as v1

        # clustered points + mixed levels (4 and 6) so unions genuinely
        # intersect, including the contains-coarser-cell direction
        lat = 40.0 + rng.uniform(-12, 12, n_sets * per_set)
        lon = 5.0 + rng.uniform(-12, 12, n_sets * per_set)
        leaf = v1.from_latlng(lat, lon)
        lv = np.where(rng.random(n_sets * per_set) < 0.5, 4, 6)
        cells = np.where(
            lv == 4, v1.parent(leaf, 4), v1.parent(leaf, 6)
        ).view(np.int64)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "sid": np.repeat(
                        np.arange(n_sets, dtype=np.int64), per_set
                    ),
                    "cell": cells,
                }
            )
        )

    def test_broadcast_side_matches_default(self, spark):
        a = self._sets(spark, 5, 12, 6).withColumnRenamed("sid", "a_id")
        b = self._sets(spark, 6, 40, 6).withColumnRenamed("sid", "b_id")
        base = sorted(
            tuple(r)
            for r in set_intersections(a, b).collect()
        )
        assert len(base) > 0
        for side in ("a", "b"):
            got = sorted(
                tuple(r)
                for r in set_intersections(
                    a, b, broadcast_side=side
                ).collect()
            )
            assert got == base
