"""Edge-crossing join vs the exhaustive all-pairs kernel oracle
(s2crossing_edge_query_test.cc semantics: candidates from the index must
yield exactly the proper crossings; intersection points lie on both
edges' great circles)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geo_spark.kernel import edges as ek
from s2geo_spark.kernel import s2coords as sc
from s2geo_spark.operators import crossing

RNG = np.random.default_rng(77)


def _edge_frame(n, seed, spread=3.0, center=(20.0, 30.0)):
    rng = np.random.default_rng(seed)
    lat1 = center[0] + rng.uniform(-spread, spread, n)
    lon1 = center[1] + rng.uniform(-spread, spread, n)
    dlat = rng.uniform(-1.0, 1.0, n)
    dlon = rng.uniform(-1.0, 1.0, n)
    return pd.DataFrame(
        {
            "edge_id": np.arange(n, dtype=np.int64),
            "lat1": lat1,
            "lon1": lon1,
            "lat2": lat1 + dlat,
            "lon2": lon1 + dlon,
        }
    )


def _xyz(pdf, lat, lon):
    x, y, z = sc.latlng_degrees_to_xyz(pdf[lat].to_numpy(), pdf[lon].to_numpy())
    return np.stack([x, y, z], axis=1)


def _proper_crossings(a_pdf, b_pdf):
    """Exhaustive oracle: every (a, b) pair whose edges properly cross."""
    a1, a2 = _xyz(a_pdf, "lat1", "lon1"), _xyz(a_pdf, "lat2", "lon2")
    b1, b2 = _xyz(b_pdf, "lat1", "lon1"), _xyz(b_pdf, "lat2", "lon2")
    want = set()
    for i in range(len(a_pdf)):
        sign = ek.crossing_signs_pairs(
            np.broadcast_to(a1[i], b1.shape),
            np.broadcast_to(a2[i], b1.shape),
            b1,
            b2,
        )
        for j in np.nonzero(sign == 1)[0]:
            want.add((i, int(j)))
    return want


class TestCrossingJoin:
    def test_matches_allpairs_oracle(self, spark):
        na, nb = 120, 150
        a_pdf = _edge_frame(na, 1)
        b_pdf = _edge_frame(nb, 2)
        a1, a2 = _xyz(a_pdf, "lat1", "lon1"), _xyz(a_pdf, "lat2", "lon2")
        b1, b2 = _xyz(b_pdf, "lat1", "lon1"), _xyz(b_pdf, "lat2", "lon2")
        want = _proper_crossings(a_pdf, b_pdf)
        assert len(want) > 20  # fixture sanity

        a_df = spark.createDataFrame(a_pdf.rename(columns={"edge_id": "a_id"}))
        b_df = spark.createDataFrame(b_pdf.rename(columns={"edge_id": "b_id"}))
        res = crossing.crossing_join(a_df, b_df).toPandas()
        got = set(zip(res["a_id"], res["b_id"]))
        assert got == want

        # intersection points: on both great circles, inside both arcs
        for _, row in res.head(40).iterrows():
            x = np.array([row["ix"], row["iy"], row["iz"]])
            i, j = int(row["a_id"]), int(row["b_id"])
            n1 = np.cross(a1[i], a2[i])
            n2 = np.cross(b1[j], b2[j])
            assert abs(np.dot(x, n1) / np.linalg.norm(n1)) < 1e-12
            assert abs(np.dot(x, n2) / np.linalg.norm(n2)) < 1e-12
            assert np.dot(x, a1[i] + a2[i]) > 0 and np.dot(x, b1[j] + b2[j]) > 0

    def test_forced_shuffle_matches_allpairs_oracle(self, spark, sql_execs, large_side):
        a_pdf, b_pdf = _edge_frame(120, 1), _edge_frame(150, 2)
        a_df = spark.createDataFrame(a_pdf.rename(columns={"edge_id": "a_id"}))
        b_df = spark.createDataFrame(b_pdf.rename(columns={"edge_id": "b_id"}))
        mark = sql_execs.mark()
        res = crossing.crossing_join(a_df, b_df, emit_points=False).toPandas()
        ran = sql_execs.plans_since(mark)
        assert ran and not any("BroadcastHashJoin" in p for p in ran)
        assert set(zip(res["a_id"], res["b_id"])) == _proper_crossings(a_pdf, b_pdf)

    def test_no_cartesian_in_plan(self, spark):
        a_df = spark.createDataFrame(_edge_frame(30, 3).rename(columns={"edge_id": "a_id"}))
        b_df = spark.createDataFrame(_edge_frame(30, 4).rename(columns={"edge_id": "b_id"}))
        plan = (
            crossing.crossing_join(a_df, b_df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan

    def test_touching_pairs_sign_zero(self, spark):
        # B shares a vertex with A: CrossingSign == 0, excluded by default,
        # included with include_touching
        a_pdf = pd.DataFrame(
            {"a_id": [0], "lat1": [0.0], "lon1": [-5.0], "lat2": [0.0], "lon2": [5.0]}
        )
        b_pdf = pd.DataFrame(
            {"b_id": [0], "lat1": [0.0], "lon1": [5.0], "lat2": [5.0], "lon2": [8.0]}
        )
        a_df, b_df = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
        assert crossing.crossing_join(a_df, b_df).count() == 0
        touch = crossing.crossing_join(a_df, b_df, include_touching=True).toPandas()
        assert len(touch) == 1 and int(touch["sign"].iloc[0]) == 0

    def test_gate_inputs_cost_one_job_per_side(self, spark):
        # constructing the join probes each edge layer's ring levels AND
        # row count (the broadcast gate's inputs) through one aggregate per
        # side. The bound: a distinct-collect plus a count() per side runs
        # 8 jobs on these inputs under AQE
        a_df = spark.createDataFrame(_edge_frame(40, 5).rename(columns={"edge_id": "a_id"}))
        b_df = spark.createDataFrame(_edge_frame(50, 6).rename(columns={"edge_id": "b_id"}))
        sc_ = spark.sparkContext
        group = "test-crossing-gate-inputs"
        sc_.setJobGroup(group, "crossing_join construction")
        try:
            crossing.crossing_join(a_df, b_df)
        finally:
            sc_.setLocalProperty("spark.jobGroup.id", None)
            sc_.setLocalProperty("spark.job.description", None)
        jobs = len(sc_.statusTracker().getJobIdsForGroup(group))
        assert 0 < jobs < 8, jobs
