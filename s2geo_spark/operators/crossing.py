"""Edge-crossing joins: S2CrossingEdgeQuery + GetIntersection, relational.

Which edges of layer B cross each edge of layer A, and where
(src/s2/s2crossing_edge_query.cc:389 GetCrossingCandidates -> CrossingSign
walk; intersection points via S2::GetIntersection,
src/s2/s2edge_crossings.cc:360-420).

Plan (the 100TB shape):
  1. each edge -> its adaptive-level ring covering (cell of endpoint A at
     the level whose kMinWidth >= edge length, + 8 neighbors): the ring
     provably covers the edge; functions.s2_ring encodes endpoint A and
     builds its ring in one pandas UDF, the ring of the kNN and distance
     joins too; the unit vectors, chord lengths and level choice are pure
     Catalyst (functions.xyz_cols / chord2, log2 of the chord angle);
  2. candidate (a, b) pairs via the ancestor/covering term duality — two
     hash equi-joins (cellset.set_intersections), never a cartesian
     product;
  3. exact residual: the 4-det crossing triage vectorized per batch with
     the exact predicate cascade on near-zero rows
     (kernel.edges.crossing_signs_pairs), intersection points for proper
     crossings (kernel.edges.get_intersection).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.operators import spatial
from s2geo_spark.kernel import metrics
from s2geo_spark.memo import memo
from s2geo_spark.operators.cellset import set_intersections

# finest ring level: shorter edges get rings at this level too
MAX_RING_LEVEL = 16


def _edge_level_from_chord2(chord2):
    """Ring level column from an edge's squared chord length: coarsest
    level with kMinWidth >= edge angle (the reference's ilogb metric
    inversion, s2metrics.h:184-189, with the float-slop nudge of
    metrics.level_for_min_value). Pure Catalyst — reusable both for the
    ring UDF input and for cheap distinct-level probes."""
    angle = 2.0 * F.asin(F.least(F.sqrt(chord2) / 2.0, F.lit(1.0)))
    raw = F.floor(
        F.log2(F.lit(metrics.MIN_WIDTH_DERIV) / F.greatest(angle, F.lit(1e-300)))
    )
    too_small = (F.lit(metrics.MIN_WIDTH_DERIV) * F.pow(2.0, -raw)) < angle
    lvl = F.when(too_small, raw - 1).otherwise(raw)
    ok_finer = (F.lit(metrics.MIN_WIDTH_DERIV) * F.pow(2.0, -(lvl + 1))) >= angle
    lvl = F.when(ok_finer, lvl + 1).otherwise(lvl)
    return F.greatest(F.least(lvl, F.lit(MAX_RING_LEVEL)), F.lit(0)).cast("int")


def _with_edge_level(edges, lat1, lon1, lat2, lon2):
    """edges + an int `lvl` column: the ring level of each edge (JVM-only)."""
    a, b = ("ax", "ay", "az"), ("bx", "by", "bz")
    e = sf.xyz_cols(sf.xyz_cols(edges, lat1, lon1, a), lat2, lon2, b)
    return e.withColumn("lvl", _edge_level_from_chord2(sf.chord2(a, b)))


def edge_levels(
    edges: DataFrame,
    lat1: str = "lat1",
    lon1: str = "lon1",
    lat2: str = "lat2",
    lon2: str = "lon2",
) -> tuple[list, int]:
    """(distinct ring levels, row count) of an edge set from ONE aggregate
    — the same level column the ring covering uses, but JVM-only (no
    ring UDF), so probing it is cheap."""
    e = _with_edge_level(edges, lat1, lon1, lat2, lon2)

    def probe():
        r = e.agg(
            F.collect_set("lvl").alias("lvls"), F.count("*").alias("n")
        ).collect()[0]
        return sorted(int(v) for v in r["lvls"]), int(r["n"])

    # memoized per (edges object, column names): the result is a pure
    # function of those, and crossing queries probe it per call
    return memo(edges, ("edge_levels", lat1, lon1, lat2, lon2), probe)


def edge_rings(
    edges: DataFrame,
    edge_id: str = "edge_id",
    lat1: str = "lat1",
    lon1: str = "lon1",
    lat2: str = "lat2",
    lon2: str = "lon2",
) -> DataFrame:
    """(edge_id, cell) ring covering per edge.

    Level = coarsest with kMinWidth >= edge angle (pure Catalyst: the
    reference's ilogb metric inversion, s2metrics.h:184-189, as floor(log2)
    with the float-slop nudge); the ring around endpoint-1's ancestor then
    provably contains the whole edge (every edge point is within
    edge-length <= kMinWidth(L) of endpoint 1)."""
    ring = _with_edge_level(edges, lat1, lon1, lat2, lon2)
    return ring.select(
        edge_id,
        F.explode(sf.s2_ring(lat1, lon1, "lvl")).alias("cell"),
    )


def crossing_join(
    a_edges: DataFrame,
    b_edges: DataFrame,
    a_id: str = "a_id",
    b_id: str = "b_id",
    emit_points: bool = True,
    include_touching: bool = False,
) -> DataFrame:
    """All (a_id, b_id) pairs whose edges cross.

    a_edges/b_edges: (id, lat1, lon1, lat2, lon2). Output: (a_id, b_id,
    sign) plus, with emit_points, the intersection unit vector (ix, iy,
    iz) for proper crossings (null for touching pairs).
    include_touching adds sign-0 pairs (shared vertex / vertex-on-edge,
    EdgeOrVertexCrossing territory)."""
    a_cells = edge_rings(a_edges, edge_id=a_id).withColumnRenamed(a_id, "a_id_")
    b_cells = edge_rings(b_edges, edge_id=b_id).withColumnRenamed(b_id, "b_id_")
    # ring-cell levels == edge levels, probed JVM-only (no ring-UDF rerun);
    # set_intersections then explodes ancestors at just those levels.
    # Size-gated broadcast (guide §3.1): when one edge layer's tagged term
    # table fits the build budget, ship it — the big side's exploded ring
    # terms then never shuffle. Levels and counts come from one memoized
    # aggregate per edge-DF object.
    (la, a_n), (lb, b_n) = edge_levels(a_edges), edge_levels(b_edges)
    est_a = a_n * 9 * (1 + len(lb)) * 24  # <=9 ring cells, cov+ancestors
    est_b = b_n * 9 * (1 + len(la)) * 24
    bcast = None
    if min(est_a, est_b) <= spatial.SPATIAL_BCAST_LIMIT:
        bcast = "a" if est_a <= est_b else "b"
    cand = set_intersections(
        a_cells, b_cells, a_id="a_id_", b_id="b_id_",
        levels_a=la, levels_b=lb, broadcast_side=bcast,
    )

    def with_mid(df, pfx):
        p1, p2 = ("x1", "y1", "z1"), ("x2", "y2", "z2")
        e = sf.xyz_cols(sf.xyz_cols(df, "lat1", "lon1", p1), "lat2", "lon2", p2)
        sx = F.col("x1") + F.col("x2")
        sy = F.col("y1") + F.col("y2")
        sz = F.col("z1") + F.col("z2")
        nrm = F.sqrt(sx * sx + sy * sy + sz * sz)
        chord2 = sf.chord2(p1, p2)
        # farthest Euclidean distance from the normalized arc midpoint to a
        # point of the arc = |mid - endpoint| = 2*sin(theta/4), derived
        # from chord = 2*sin(theta/2) without trig calls
        cos_half = F.sqrt(F.greatest(F.lit(0.0), 1.0 - chord2 / 4.0))
        radius = 2.0 * F.sqrt(F.greatest(F.lit(0.0), (1.0 - cos_half) / 2.0))
        return e.withColumns(
            {
                f"{pfx}mx": sx / nrm,
                f"{pfx}my": sy / nrm,
                f"{pfx}mz": sz / nrm,
                f"{pfx}r": radius,
            }
        ).drop("x1", "y1", "z1", "x2", "y2", "z2")

    a_pts = with_mid(a_edges, "a").select(
        F.col(a_id).alias("a_id_"),
        F.col("lat1").alias("a_lat1"),
        F.col("lon1").alias("a_lon1"),
        F.col("lat2").alias("a_lat2"),
        F.col("lon2").alias("a_lon2"),
        "amx", "amy", "amz", "ar",
    )
    b_pts = with_mid(b_edges, "b").select(
        F.col(b_id).alias("b_id_"),
        F.col("lat1").alias("b_lat1"),
        F.col("lon1").alias("b_lon1"),
        F.col("lat2").alias("b_lat2"),
        F.col("lon2").alias("b_lon2"),
        "bmx", "bmy", "bmz", "br",
    )
    pairs = cand.join(a_pts, "a_id_").join(b_pts, "b_id_")
    # exact conservative JVM prefilter before the Python 4-det residual: a
    # crossing point lies on both arcs, so by the Euclidean triangle
    # inequality |mA - mB| <= rA + rB is NECESSARY for a crossing; the
    # ring-covering candidates over-include by ~an order of magnitude
    mid_d2 = sf.chord2(("amx", "amy", "amz"), ("bmx", "bmy", "bmz"))
    pairs = pairs.filter(
        mid_d2 <= (F.col("ar") + F.col("br")) * (F.col("ar") + F.col("br"))
    ).drop("amx", "amy", "amz", "ar", "bmx", "bmy", "bmz", "br")

    cols = ["a_id_", "b_id_", "sign"] + (
        ["ix", "iy", "iz"] if emit_points else []
    )
    schema = "a_id_ long, b_id_ long, sign int" + (
        ", ix double, iy double, iz double" if emit_points else ""
    )

    def batch_iter(batches):
        from s2geo_spark.kernel import edges as _edges
        from s2geo_spark.kernel import s2coords as _sc

        for pdf in batches:
            if len(pdf) == 0:
                continue

            def xyz(lat_col, lon_col):
                x, y, z = _sc.latlng_degrees_to_xyz(
                    pdf[lat_col].to_numpy(), pdf[lon_col].to_numpy()
                )
                return np.stack([x, y, z], axis=1)

            a1 = xyz("a_lat1", "a_lon1")
            a2 = xyz("a_lat2", "a_lon2")
            b1 = xyz("b_lat1", "b_lon1")
            b2 = xyz("b_lat2", "b_lon2")
            sign = _edges.crossing_signs_pairs(a1, a2, b1, b2)
            keep = sign >= (0 if include_touching else 1)
            out = pd.DataFrame(
                {
                    "a_id_": pdf["a_id_"].to_numpy()[keep],
                    "b_id_": pdf["b_id_"].to_numpy()[keep],
                    "sign": sign[keep].astype(np.int32),
                }
            )
            if emit_points:
                proper = out["sign"].to_numpy() == 1
                pts = np.full((len(out), 3), np.nan)
                if proper.any():
                    sel = np.nonzero(keep)[0][proper]
                    pts[proper] = _edges.get_intersection(
                        a1[sel], a2[sel], b1[sel], b2[sel]
                    )
                out["ix"], out["iy"], out["iz"] = pts[:, 0], pts[:, 1], pts[:, 2]
            yield out

    res = pairs.mapInPandas(batch_iter, schema=schema)
    return res.select(
        F.col("a_id_").alias(a_id), F.col("b_id_").alias(b_id),
        *cols[2:],
    )
