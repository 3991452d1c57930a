"""Point↔edge distance kernel + polyline distance join vs brute force."""

import numpy as np
import pandas as pd
import pytest

from s2geo_spark.kernel import edges, loops, regions, s2coords as sc
from s2geo_spark.operators import distance as dist_op

RNG = np.random.default_rng(55)


def test_point_edge_distance_basics():
    # edge along the equator from 0E to 10E; point at (1N, 5E): distance = 1 deg
    a = regions.latlng_to_unit(0.0, 0.0)[None, :]
    b = regions.latlng_to_unit(0.0, 10.0)[None, :]
    x = regions.latlng_to_unit(np.array([1.0, 0.0, 5.0]), np.array([5.0, -3.0, 5.0]))
    d2 = edges.point_edge_chord2(x, a, b)[:, 0]
    want_interior = (2 * np.sin(np.radians(0.5))) ** 2  # 1 deg perpendicular
    assert abs(d2[0] - want_interior) < 1e-12
    # point west of the start: distance to endpoint A (3 deg)
    want_end = (2 * np.sin(np.radians(1.5))) ** 2
    assert abs(d2[1] - want_end) < 1e-12
    # point 5 deg north above the middle
    want_mid = (2 * np.sin(np.radians(2.5))) ** 2
    assert abs(d2[2] - want_mid) < 1e-12


def test_point_polyline_matches_bruteforce():
    line = loops.parse_loop_text("40:-74, 42:-71, 45:-70, 47:-68")
    x = np.stack(
        sc.latlng_degrees_to_xyz(
            40 + RNG.uniform(0, 8, 500), -75 + RNG.uniform(0, 8, 500)
        ),
        axis=1,
    )
    got = edges.point_polyline_chord2(x, line)
    # brute force: sample points densely along each segment
    best = np.full(500, np.inf)
    for k in range(len(line) - 1):
        a, b = line[k], line[k + 1]
        w = np.arccos(np.clip(a @ b, -1, 1))
        for t in np.linspace(0, 1, 2000):
            p = (np.sin((1 - t) * w) * a + np.sin(t * w) * b) / np.sin(w)
            p /= np.linalg.norm(p)
            best = np.minimum(best, ((x - p) ** 2).sum(1))
    assert np.allclose(got, best, atol=1e-7)


def test_polyline_distance_join(spark):
    line_ab = loops.parse_loop_text("40:-74, 42:-71")
    line_far = loops.parse_loop_text("-30:100, -32:103")
    n = 1500
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lat": 41 + RNG.uniform(-3, 3, n),
            "lon": -72.5 + RNG.uniform(-3, 3, n),
        }
    )
    radius_m = 60_000.0
    got = (
        dist_op.polyline_distance_join(
            {1: line_ab, 2: line_far}, spark.createDataFrame(pdf), radius_m
        )
        .toPandas()
    )
    got_pairs = set(zip(got["point_id"], got["line_id"]))
    from s2geo_spark.kernel import metrics as m

    chord2 = (2 * np.sin(0.5 * radius_m / m.EARTH_RADIUS_METERS)) ** 2
    x = np.stack(
        sc.latlng_degrees_to_xyz(pdf["lat"].to_numpy(), pdf["lon"].to_numpy()), axis=1
    )
    want = set()
    for lid, line in [(1, line_ab), (2, line_far)]:
        d2 = edges.point_polyline_chord2(x, line)
        for idx in np.nonzero(d2 <= chord2)[0]:
            want.add((int(idx), lid))
    assert got_pairs == want
    assert len(got_pairs) > 0  # the near line catches some points
    assert not any(lid == 2 for _, lid in got_pairs)  # far line catches none


def test_polyline_join_plan_and_null_coordinates(spark):
    """The polyline join's candidates come from quad-key terms (no cell
    encode UDF), and null/NaN coordinates drop."""
    line = loops.parse_loop_text("40:-74, 42:-71")
    pts = spark.createDataFrame(
        [(0, 41.0, -72.5), (1, None, -72.5), (2, float("nan"), -72.5), (3, 41.0, None)],
        "point_id long, lat double, lon double",
    )
    joined = dist_op.polyline_distance_join({1: line}, pts, 60_000.0)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BroadcastHashJoin" in plan
    assert [(r["point_id"], r["line_id"]) for r in joined.collect()] == [(0, 1)]


def test_distance_join_radius_overflow_raises():
    import pytest as _pytest

    from s2geo_spark.kernel import metrics
    from s2geo_spark.operators import distance

    with _pytest.raises(ValueError):
        distance._ring_level_for_radius(metrics.MIN_WIDTH_DERIV * 1.01)
