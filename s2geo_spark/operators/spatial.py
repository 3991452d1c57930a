"""Spatial joins: polygon/cap containment via the term-indexer scheme.

The scalable plan (SURVEY.md §3.3, reference S2RegionTermIndexer,
src/s2/s2region_term_indexer.cc:121-289):

  polygon side  — covering cells at levels [min_level .. max_level]
                  ("index terms"), each packed as a (face, level, i, j)
                  quad key (cell_quads), split interior vs boundary
  point side    — (face, i, j) leaf coordinates from pure Catalyst trig
                  (functions.s2_face_ij_attach), exploded to the quad key
                  at every level the index uses ("query terms": no UDF)
  candidates    — ONE hash equi-join on the quad key (broadcast when the
                  polygon side is small, shuffle+AQE-skew otherwise),
                  then ONE round-robin REBALANCE exchange: the Python
                  residual's task count follows candidate bytes (AQE),
                  not the scan's split count
  exact residual— polygons: only pairs that matched a *boundary* cell run
                  the exact crossing-parity PIP against that cell's
                  clipped edges (Arrow-batched); interior-cell matches are
                  contained by construction (the reference's
                  contains_center fast path, src/s2/s2shape_index.h
                  S2ClippedShape). The clipped edges reach the residual
                  one way per index, chosen from the index itself: one
                  per-executor broadcast when its detail estimate fits
                  SPATIAL_BCAST_LIMIT and its (polygon_id, cell) keys are
                  unique, else a detail join on that key.
                  Caps: a chord-distance Catalyst filter.

Term-indexer defaults match the reference: max_cells=8, min_level=4,
max_level=16, level_mod=1 (src/s2/s2region_term_indexer.cc:96-102).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.kernel import cellid_v1 as v1
from s2geo_spark.kernel import coverer, regions
from s2geo_spark.memo import memo

TERM_MIN_LEVEL = 4
TERM_MAX_LEVEL = 16
TERM_MAX_CELLS = 8

# Byte budget for every build side that must fit in memory (~10% of a
# typical 4 GiB executor heap; VERDICT r2 wrong-#2 / r3 next-#4: an
# unconditional broadcast hint bypasses Spark's threshold and OOMs
# executors when the build side is continent-sized). Every gate reads it
# when it is called, never as a default argument, so tests force the
# large side with monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", 0).
# The gates and the estimate each compares with it:
#   contains_join_indexed slim join   ~40 B per index row
#   contains_join_indexed detail      ~48 B per index row + 9 B per edge
#     broadcast                       element; past it (or on duplicate
#                                     keys) an unhinted detail join;
#                                     localize_index collects the index
#                                     on the same estimate
#   crossing.crossing_join            24 B per term: <=9 ring cells per
#                                     edge x (1 + the other side's levels)
#   contract._jaccard_build           16 B per shingle
#   knn.knn_join brute-force pass     32 B per point (point_id, px, py,
#                                     pz), with |q| x |p| <= BRUTE_MAX_PAIRS
#   dedup.connected_components        dedup.DRIVER_BYTES_PER_EDGE per
#                                     canonical edge (driver finish)
SPATIAL_BCAST_LIMIT = 256 << 20


def cell_quads(cells) -> tuple[np.ndarray, np.ndarray]:
    """Cell ids (int64 bits) -> (quad key int64, level int32), packed
    exactly like functions.quad_key, so an index cell equi-joins the scan
    side's term at its own level."""
    cells_u = np.asarray(cells, dtype=np.int64).view(np.uint64)
    lvl = v1.level(cells_u)
    f, i, j = v1.to_face_ij_orientation(cells_u)
    s = (30 - lvl).astype(np.int64)
    quad = (
        f.astype(np.int64) * (1 << 58)
        + lvl.astype(np.int64) * (1 << 53)
        + (i >> s) * (1 << 26)
        + (j >> s)
    )
    return quad, lvl.astype(np.int32)


# ---------------------------------------------------------------------------
# Shape-indexed containment join: distributed prep + per-cell edge clipping
# ---------------------------------------------------------------------------

def polygons_to_df(
    spark: SparkSession, polygons: dict[int, "np.ndarray | list"]
) -> DataFrame:
    """{polygon_id: (m,3) loop | [loops...]} -> DataFrame(polygon_id,
    loops array<array<double>>) — the distributed-prep input shape. In
    production this table comes straight off storage (WKB/parquet layer);
    here the fixture dict is tiny and the conversion is O(vertices)."""
    rows = []
    for pid, vs in sorted(polygons.items()):
        loop_list = vs if isinstance(vs, list) else [vs]
        rows.append(
            (
                int(pid),
                [np.asarray(lp, dtype=np.float64).ravel().tolist() for lp in loop_list],
            )
        )
    return spark.createDataFrame(rows, "polygon_id long, loops array<array<double>>")


def build_index_df(polys: DataFrame) -> DataFrame:
    """Distributed polygon prep (VERDICT r1 #5 / SURVEY §3.2): covering +
    per-cell clipped edge lists computed in an applyInPandas over the
    polygon DataFrame — no driver-side per-polygon loop, no whole-polygon
    broadcast. Output: one row per index cell,

      (polygon_id, cell, quad, lvl, is_interior, contains_center,
       edges array<double> (6 per edge), ksigns array<int>)

    Boundary cells hold <= shapeindex.MAX_EDGES_PER_CELL clipped edges
    (mutable_s2shape_index.cc:69-76); the residual tests only those.
    """
    schema = (
        "polygon_id long, cell long, quad long, lvl int, "
        "is_interior boolean, contains_center boolean, "
        "edges array<double>, ksigns array<int>"
    )

    def per_poly(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from s2geo_spark.kernel import shapeindex as _si

        out = []
        for _, row in pdf.iterrows():
            loop_arrays = [
                np.asarray(lp, dtype=np.float64).reshape(-1, 3)
                for lp in row["loops"]
            ]
            idx = _si.build_polygon_index(
                loop_arrays,
                min_level=TERM_MIN_LEVEL,
                max_level=TERM_MAX_LEVEL,
                max_cells=TERM_MAX_CELLS,
            )
            quad, lvl = cell_quads(idx["cell"])
            out.append(
                pd.DataFrame(
                    {
                        "polygon_id": row["polygon_id"],
                        "cell": idx["cell"],
                        "quad": quad,
                        "lvl": lvl,
                        "is_interior": idx["is_interior"],
                        "contains_center": idx["contains_center"],
                        "edges": [e.ravel().tolist() for e in idx["edges"]],
                        "ksigns": [k.astype(int).tolist() for k in idx["ksigns"]],
                    }
                )
            )
        return pd.concat(out) if out else pd.DataFrame(
            columns=[
                "polygon_id", "cell", "quad", "lvl", "is_interior",
                "contains_center", "edges", "ksigns",
            ]
        )

    return polys.groupBy("polygon_id").applyInPandas(per_poly, schema=schema)


def _index_stats(index_df: DataFrame) -> tuple[list[int], int, int]:
    """(distinct levels, slim bytes, detail bytes) of a shape-index table
    from ONE aggregate, memoized on the table object. The byte estimates
    size the slim and detail broadcasts and localize_index: the slim
    projection is ~40 B/row; the detail one ~48 B/row + 9 B per edge
    element."""

    def build():
        r = index_df.agg(
            F.collect_set("lvl").alias("lvls"),
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.size("edges")), F.lit(0)).alias("ne"),
        ).collect()[0]
        n, ne = int(r["n"]), int(r["ne"])
        return sorted(int(v) for v in r["lvls"]), n * 40, n * 48 + ne * 9

    return memo(index_df, "indexed_stats", build)


def localize_index(spark: SparkSession, index_df: DataFrame) -> DataFrame:
    """Materialize a small build-side index table as a LOCAL relation.

    Index tables are built once per session and reused across every scan
    (SURVEY §3.2: in production the covering table is materialized to
    storage). A `.persist()` memo is defeated by any later
    `spark.catalog.clearCache()` — every subsequent join then re-runs the
    whole applyInPandas build. Collecting the (tiny) table once and
    re-creating it as a driver-local relation makes the memo
    unconditional: no recompute, no cache entry to lose, and the
    broadcast builds read driver-local rows.

    The table is persisted first, so _index_stats' one aggregate builds it
    once for both outcomes. Only when its detail estimate fits
    SPATIAL_BCAST_LIMIT is it collected; otherwise it stays persisted.
    The collect and the re-creation go through Arrow, so (with
    spark.sql.execution.arrow.pyspark.enabled) the result is a
    LocalTableScan: reading it, including the slim and detail
    broadcasts' collects, runs no Spark job.
    """
    was_cached = index_df.is_cached
    df = index_df.persist()
    stats = _index_stats(df)
    if stats[2] > SPATIAL_BCAST_LIMIT:  # the detail broadcast's estimate
        return df
    pdf = df.toPandas()
    if not was_cached:
        df.unpersist()
    local = spark.createDataFrame(pdf, df.schema)
    memo(local, "indexed_stats", lambda: stats)
    return local


def _cell_payload(cell: int, contains_center: bool, edges, ksigns):
    """One boundary cell's residual inputs, the leading arguments of
    shapeindex.contains_from_anchor: (cell-center anchor, contains_center,
    (e, 6) clipped edges, (e,) crossing signs)."""
    cx, cy, cz = v1.to_point(np.array([cell], dtype=np.int64).view(np.uint64))
    return (
        np.array([cx[0], cy[0], cz[0]]),
        bool(contains_center),
        np.asarray(edges, dtype=np.float64).reshape(-1, 6),
        np.asarray(ksigns, dtype=np.int8),
    )


def _detail_broadcast(index_df: DataFrame):
    """{(polygon_id, cell): _cell_payload} of the index's boundary cells
    as one task broadcast, built once from the index's own rows and
    memoized on it; None when two rows share a (polygon_id, cell) key
    (e.g. a union of index tables): the map holds one payload per key,
    while the detail join emits one row per matching detail row."""

    def build():
        rows = index_df.select(
            "polygon_id", "cell", "is_interior", "contains_center", "edges", "ksigns"
        ).collect()
        if len({(r["polygon_id"], r["cell"]) for r in rows}) < len(rows):
            return None
        return index_df.sparkSession.sparkContext.broadcast(
            {
                (int(r["polygon_id"]), int(r["cell"])): _cell_payload(
                    r["cell"], r["contains_center"], r["edges"], r["ksigns"]
                )
                for r in rows
                if not r["is_interior"]
            }
        )

    return memo(index_df, "detail_bc", build)


def contains_join_indexed(
    points: DataFrame,
    index_df: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    emit_cell: bool = False,
) -> DataFrame:
    """Containment join against a shape-index table (from build_index_df).

    Plan (the 100TB shape):
      1. scan side: (face,i,j) from pure Catalyst trig, explode quad keys
         at the index's levels (tiny distinct-levels aggregate) — no UDF;
      2. ONE hash equi-join candidates vs the slim (quad, polygon_id,
         cell, is_interior) projection (broadcast when small);
      3. ONE round-robin REBALANCE exchange of the slim candidates: AQE
         sizes the Python residual's tasks by candidate bytes, not by
         scan splits (each Python task has a fixed cost far above its
         work on a few thousand rows), and splits skewed partitions (hot
         cells); streaming plans (no AQE) get spark.sql.shuffle.partitions
         tasks;
      4. boundary detail (contains_center, edges, ksigns) per (polygon_id,
         cell), one transport chosen from the index alone: when its detail
         estimate fits SPATIAL_BCAST_LIMIT and its keys are unique, ONE
         per-executor broadcast of the boundary cells' payloads, so no
         edge array crosses Arrow (guide §4.1); otherwise one unhinted
         detail join on the key;
      5. mapInPandas residual: interior rows stream through; boundary rows
         run the anchored crossing parity against
         <=shapeindex.MAX_EDGES_PER_CELL clipped edges — work scales with
         edges-per-cell, not polygon size (s2loop.cc:549-601 indexed walk).
    SEMI_OPEN vertex model: rows are bit-identical to the kernel's
    PreparedLoop.contains_points on every side of both gates (localized
    vs persisted index, broadcast vs shuffle); tests force the shuffle
    side by patching SPATIAL_BCAST_LIMIT to 0.

    Past the slim gate (~40B/row) the equi-join shuffles on the quad key
    with AQE skew handling. Null/NaN lat or lon rows drop.
    """
    # memoized on the index object: the flagship and every q_pip_* call
    # reuse one index table, so only its build pays the stats job
    levels, slim_est, detail_est = _index_stats(index_df)
    terms = sf.quad_terms(points, lat, lon, levels)

    slim = index_df.select("quad", "polygon_id", "cell", "is_interior")
    if slim_est <= SPATIAL_BCAST_LIMIT:
        slim = F.broadcast(slim)
    cand = terms.join(slim, terms["term"] == slim["quad"], "inner").drop(
        "term", "quad"
    )
    cand = cand.hint("rebalance")

    detail_bc = None
    if detail_est <= SPATIAL_BCAST_LIMIT:
        detail_bc = _detail_broadcast(index_df)
    if detail_bc is None:
        detail = index_df.select(
            F.col("polygon_id").alias("d_pid"),
            F.col("cell").alias("d_cell"),
            "contains_center",
            "edges",
            "ksigns",
        )
        cand = cand.join(
            detail,
            (cand["polygon_id"] == detail["d_pid"])
            & (cand["cell"] == detail["d_cell"]),
            "inner",
        ).drop("d_pid", "d_cell")

    drop_cols = ["is_interior", "contains_center", "edges", "ksigns", "cell"]
    base_schema = cand.drop(*[c for c in drop_cols if c in cand.columns]).schema
    if emit_cell:
        from pyspark.sql.types import LongType, StructField

        out_schema = base_schema.add(StructField("cell", LongType()))
    else:
        out_schema = base_schema
    lat_name, lon_name = lat, lon

    def pip_iter(batches):
        from s2geo_spark.kernel import cellid_v1 as _v1
        from s2geo_spark.kernel import s2coords as _sc
        from s2geo_spark.kernel import shapeindex as _si

        for pdf in batches:
            keep = pdf["is_interior"].to_numpy(dtype=bool).copy()
            boundary = pdf.loc[~keep]
            if len(boundary):
                x, y, z = _sc.latlng_degrees_to_xyz(
                    boundary[lat_name].to_numpy(), boundary[lon_name].to_numpy()
                )
                pts3_all = np.stack([x, y, z], axis=1)
                pos = pdf.index.get_indexer(boundary.index)
                # numeric two-key grouping (no string concat): sorted runs
                pid_arr = boundary["polygon_id"].to_numpy(dtype=np.int64)
                cell_arr = boundary["cell"].to_numpy(dtype=np.int64)
                order = np.lexsort((cell_arr, pid_arr))
                sp = pid_arr[order]
                sc_ = cell_arr[order]
                starts = np.flatnonzero(
                    np.concatenate(
                        ([True], (sp[1:] != sp[:-1]) | (sc_[1:] != sc_[:-1]))
                    )
                )
                bounds = np.concatenate((starts, [len(order)]))
                for gi in range(len(starts)):
                    rows = order[bounds[gi]:bounds[gi + 1]]
                    key = (int(sp[bounds[gi]]), int(sc_[bounds[gi]]))
                    if detail_bc is not None:
                        payload = detail_bc.value[key]
                    else:
                        first = boundary.iloc[rows[0]]
                        payload = _cell_payload(
                            key[1],
                            first["contains_center"],
                            first["edges"],
                            first["ksigns"],
                        )
                    keep[pos[rows]] = _si.contains_from_anchor(
                        *payload, pts3_all[rows]
                    )
            out = pdf.loc[keep].drop(
                columns=[
                    c
                    for c in drop_cols
                    if c in pdf.columns and (c != "cell" or not emit_cell)
                ]
            )
            if emit_cell:
                out = out.assign(
                    cell=_v1.from_face_ij(
                        out["f"].to_numpy(dtype=np.int64),
                        out["i"].to_numpy(dtype=np.int64),
                        out["j"].to_numpy(dtype=np.int64),
                    ).view(np.int64)
                )
            yield out

    return cand.mapInPandas(pip_iter, schema=out_schema)


# ---------------------------------------------------------------------------
# Driver-covering joins (caps here, polylines in distance.py): quad-key
# candidates, then each caller's exact residual
# ---------------------------------------------------------------------------

def covering_join(
    points: DataFrame, cov: pd.DataFrame, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """points x a driver-side covering -> one row per (point, covering
    cell containing it), with the covering's other columns attached.

    cov holds a `cell` column (int64 bits) plus payload columns. Its
    cells are packed as quad keys (cell_quads) and broadcast; the scan
    side's functions.quad_terms are exploded at only the covering's
    levels (terms at absent levels can never match — VERDICT r1 fan-out
    note) and equi-joined on the quad key. No UDF. Null/NaN lat or lon
    rows get no terms, so they drop.
    """
    quad, lvl = cell_quads(cov["cell"].to_numpy())
    cov_df = points.sparkSession.createDataFrame(
        cov.drop(columns="cell").assign(quad=quad)
    )
    terms = sf.quad_terms(points, lat, lon, sorted(set(lvl.tolist())))
    return terms.join(
        F.broadcast(cov_df), terms["term"] == cov_df["quad"], "inner"
    ).drop("term", "quad", "f", "i", "j")


def cap_contains_join(
    points: DataFrame,
    caps: list[tuple[int, float, float, float]],
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """points x caps [(cap_id, lat, lon, radius_deg)] -> rows + cap_id.

    Plan: per-cap covering on the driver -> covering_join -> exact
    chord-distance filter. No UDF anywhere: chord^2 <= r^2 is plain
    arithmetic. Null/NaN lat or lon rows drop.
    """
    rows = []
    for cap_id, clat, clon, radius_deg in caps:
        cap = regions.Cap.from_latlng_radius_degrees(clat, clon, radius_deg)
        cov = coverer.get_covering(
            cap,
            max_cells=TERM_MAX_CELLS,
            min_level=TERM_MIN_LEVEL,
            max_level=TERM_MAX_LEVEL,
        )
        for cid in cov:
            rows.append(
                (
                    cap_id,
                    int(np.int64(np.uint64(cid))),
                    float(cap.center[0]),
                    float(cap.center[1]),
                    float(cap.center[2]),
                    cap.length2,
                )
            )
    cov_pdf = pd.DataFrame(
        rows, columns=["cap_id", "cell", "cx", "cy", "cz", "len2"]
    )
    cand = covering_join(sf.xyz_cols(points, lat, lon), cov_pdf, lat, lon)
    chord2 = sf.chord2(("px", "py", "pz"), ("cx", "cy", "cz"))
    return cand.filter(chord2 <= F.col("len2")).drop(
        "cx", "cy", "cz", "len2", "px", "py", "pz"
    )


def h3_polyfill_cells(
    polys: DataFrame, res: int, layout: str = "face20"
) -> DataFrame:
    """(polygon_id, loops) -> one row per (polygon_id, h3_cell): the
    upstream polygonToCells contract (cells whose CENTERS are inside),
    kernel/h3.polyfill per polygon via applyInPandas — each polygon's BFS
    flood fill runs in one task, polygons spread across executors. Uses
    the polygon's outer loop (loops[0]); layout="h3" emits Dymaxion ids.
    """
    out_schema = "polygon_id long, h3_cell long"

    def per_poly(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from s2geo_spark.kernel import h3 as _h3

        frames = []
        for _, row in pdf.iterrows():
            verts = np.asarray(row["loops"][0], dtype=np.float64).reshape(-1, 3)
            cells = np.asarray(_h3.polyfill(verts, res, layout=layout))
            frames.append(
                pd.DataFrame(
                    {
                        "polygon_id": row["polygon_id"],
                        "h3_cell": cells.view(np.int64),
                    }
                )
            )
        return (
            pd.concat(frames)
            if frames
            else pd.DataFrame(columns=["polygon_id", "h3_cell"])
        )

    return polys.groupBy("polygon_id").applyInPandas(per_poly, out_schema)
