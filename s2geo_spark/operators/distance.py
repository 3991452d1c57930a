"""Distance-tolerant joins: "points within radius r of X".

Spark restatement of S2CellIteratorJoin::TolerantJoin
(src/s2/s2cell_iterator_join.h:284-445) and the S2CellUnion::Expand
prefilter (src/s2/s2cell_union.cc:450-480):

  1. cover the target (cap of radius r around each left row, or an
     expanded covering of a region) at a level sized to r
     (kMinWidth.GetLevelForMinValue, src/s2/s2metrics.h:184-189)
  2. one hash equi-join on the covering cell vs the point's ancestor
  3. exact chord-distance residual — pure Catalyst arithmetic, no UDF
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.kernel import metrics
from s2geo_spark.operators.spatial import covering_join


def _ring_level_for_radius(radius_rad: float) -> int:
    """Coarsest level whose min cell width still exceeds the radius, so a
    3x3 ring around the center cell covers the whole cap.

    Raises for radii the level-0 ring provably cannot cover (the ring of
    face cells omits the antipodal face): silent clamping would drop valid
    pairs (ADVICE r1). Such radii (> ~72 deg) are not a neighbor-join
    workload — use a full cross strategy explicitly if ever needed."""
    if radius_rad > metrics.MIN_WIDTH_DERIV:
        raise ValueError(
            f"distance_join radius {radius_rad:.3f} rad exceeds level-0 ring "
            f"coverage ({metrics.MIN_WIDTH_DERIV:.3f} rad); the 3x3 face ring "
            "would silently omit the antipodal face"
        )
    lvl = int(
        metrics.level_for_min_value(metrics.MIN_WIDTH_DERIV, np.array([radius_rad]))[0]
    )
    return max(0, min(lvl, 18))


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
) -> DataFrame:
    """All (left, right) pairs within radius_m meters on the sphere.

    Both inputs need (id, lat, lon). Returns (left_id, right_id, dist2)
    with dist2 = squared chord distance. The candidate prefilter is one
    equi-join of each left row's functions.s2_ring at a radius-derived
    level (one pandas UDF from lat/lon) with the right row's ancestor at
    that level; the residual is a JVM-side chord test (whole-stage
    codegen, no Python). Rows with a null or NaN lat or lon drop.
    """
    radius_rad = radius_m / metrics.EARTH_RADIUS_METERS
    lvl = _ring_level_for_radius(radius_rad)
    chord2 = float((2.0 * np.sin(0.5 * radius_rad)) ** 2)

    l_xyz, r_xyz = ("lx", "ly", "lz"), ("px", "py", "pz")
    l = sf.xyz_cols(left.dropna(subset=["lat", "lon"]), names=l_xyz).select(
        left_id,
        *l_xyz,
        F.explode(sf.s2_ring("lat", "lon", F.lit(lvl))).alias("jcell"),
    )
    r = sf.xyz_cols(right).withColumn("rcell", sf.s2_cell_id("lat", "lon")).select(
        right_id, *r_xyz, sf.s2_parent("rcell", lvl).alias("jcell"),
    )
    return (
        l.join(r, "jcell")
        .withColumn("dist2", sf.chord2(r_xyz, l_xyz))
        .filter(F.col("dist2") <= chord2)
        .select(left_id, right_id, "dist2")
    )


def polyline_distance_join(
    polylines: dict[int, np.ndarray],
    points: DataFrame,
    radius_m: float,
    point_id: str = "point_id",
) -> DataFrame:
    """Points within radius_m of each polyline (the closest-EDGE query
    family, src/s2/s2closest_edge_query.h, as a batched join).

    polylines: {line_id: (m,3) unit vertices}. Plan: cover each polyline
    expanded by the radius (coverer over the Polyline region + ring
    expand) -> spatial.covering_join on quad keys -> exact point-edge
    chord residual in one mapInPandas. Null/NaN lat or lon rows drop.
    Returns (point_id, line_id, dist2).
    """
    import pandas as pd

    from s2geo_spark.kernel import cellunion, coverer, edges
    from s2geo_spark.kernel import metrics as m

    spark = points.sparkSession
    radius_rad = radius_m / m.EARTH_RADIUS_METERS
    chord2 = float((2.0 * np.sin(0.5 * radius_rad)) ** 2)
    expand_level = _ring_level_for_radius(radius_rad)

    rows = []
    for lid, verts in polylines.items():
        pl = edges.Polyline(verts)
        cov = coverer.get_covering(pl, max_cells=32, max_level=expand_level)
        cov = cellunion.expand_by_level(cov, expand_level)
        for c in cov:
            rows.append((lid, int(np.int64(np.uint64(c)))))
    cov = pd.DataFrame(rows, columns=["line_id", "cell"])
    cand = (
        covering_join(points, cov)
        .select(point_id, "lat", "lon", "line_id")
        .distinct()
    )

    bc = spark.sparkContext.broadcast({int(k): v for k, v in polylines.items()})
    out_schema = f"{point_id} string, line_id long, dist2 double" if dict(points.dtypes).get(point_id) == "string" else f"{point_id} long, line_id long, dist2 double"

    def run(batches):
        from s2geo_spark.kernel import edges as _e
        from s2geo_spark.kernel import s2coords as _sc

        for pdf in batches:
            outs = []
            for lid, grp in pdf.groupby("line_id"):
                verts = bc.value[int(lid)]
                x, y, z = _sc.latlng_degrees_to_xyz(
                    grp["lat"].to_numpy(), grp["lon"].to_numpy()
                )
                d2 = _e.point_polyline_chord2(np.stack([x, y, z], 1), verts)
                keep = d2 <= chord2
                outs.append(
                    pd.DataFrame(
                        {
                            point_id: grp[point_id].to_numpy()[keep],
                            "line_id": int(lid),
                            "dist2": d2[keep],
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {point_id: [], "line_id": [], "dist2": []}
            )

    return cand.mapInPandas(run, schema=out_schema)
