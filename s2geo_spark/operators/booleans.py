"""Relational boolean operations on polygon layers
(S2BooleanOperation, src/s2/s2boolean_operation.h:16-40).

boolean_join: for candidate (a, b) polygon pairs, compute the exact
boolean result loops with the kernel's one boolean engine, the
boundary-graph overlay (kernel/overlay.overlay_boolean), in a
mapInPandas — per-pair work distributes across executors, the driver
never loops polygons. Candidates default to covering-intersection pairs
(ancestor-term duality) so disjoint pairs never ship to Python.
buffer_polygons and winding_regions map one region per row the same way;
all three emit (ids..., n_loops, area, loops) rows through _map_regions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _map_regions(df, id_cols, loop_cols, fn):
    """df.mapInPandas over one region result per row: each of loop_cols
    (flattened (m*3) loops) reaches fn as a list of (m, 3) arrays, and
    fn's result loops (XOR-nested CCW) come back as
    (id_cols..., n_loops, area, loops) with the ids as longs."""
    cols = [*id_cols, "n_loops", "area", "loops"]
    schema = "".join(f"{c} long, " for c in id_cols) + (
        "n_loops int, area double, loops array<array<double>>"
    )

    def run(batches):
        from s2geo_spark.kernel import booleanop as bo

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                res = fn(*(
                    [np.asarray(l, dtype=np.float64).reshape(-1, 3) for l in r[c]]
                    for c in loop_cols
                ))
                rows.append([
                    *(r[c] for c in id_cols),
                    len(res),
                    bo.region_area(res),
                    [l.ravel().tolist() for l in res],
                ])
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=schema)


def region_covering_df(
    polys: DataFrame,
    out_id: str,
    id_col: str = "polygon_id",
) -> DataFrame:
    """(polygon_id, loops) -> (out_id, cell) covering relation, computed
    distributed (applyInPandas per polygon) with the term-indexer
    defaults (spatial.TERM_*). The union of per-loop
    coverings covers the XOR-nested region (the outer loop's covering
    alone already does; holes only shrink it), so it is a valid candidate
    filter for pair enumeration."""

    def per(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from s2geo_spark.kernel import cellunion, coverer
        from s2geo_spark.kernel import loops as lps
        from s2geo_spark.operators import spatial

        rows = []
        for _, r in pdf.iterrows():
            covs = []
            for l in r["loops"]:
                lp = lps.PreparedLoop(
                    np.asarray(l, dtype=np.float64).reshape(-1, 3)
                )
                covs.append(
                    coverer.get_covering(
                        lp,
                        max_cells=spatial.TERM_MAX_CELLS,
                        min_level=spatial.TERM_MIN_LEVEL,
                        max_level=spatial.TERM_MAX_LEVEL,
                    )
                )
            cells = cellunion.normalize(
                np.concatenate(covs).astype(np.uint64)
            ).view(np.int64)
            rows.extend((int(r[id_col]), int(c)) for c in cells)
        return pd.DataFrame(rows, columns=[out_id, "cell"])

    return polys.groupBy(id_col).applyInPandas(
        per, schema=f"{out_id} long, cell long"
    )


def boolean_join(
    a_polys: DataFrame,
    b_polys: DataFrame,
    op: str,
    a_id: str = "a_id",
    b_id: str = "b_id",
    pairs: DataFrame | None = None,
    all_pairs: bool = False,
    snap_level: int | None = None,
) -> DataFrame:
    """a_polys/b_polys: (id, loops array<array<double>>) rows — one or
    more XOR-nested CCW loops per polygon (holes at odd depth). Returns
    (a_id, b_id, n_loops, area, loops array<array<double>>) — the
    result loops of overlay.overlay_boolean under the same XOR nesting
    (booleanop.region_contains_points and region_area read them).

    With pairs=None the candidate set defaults to covering-intersection
    pairs (distributed per-polygon coverings -> cellset.set_intersections
    ancestor equi-joins — VERDICT r2 next-#5): pairs whose coverings are
    disjoint are never enumerated, so the plan contains no
    CartesianProduct and scales with interacting pairs, not |A| x |B|.
    For `union`/`difference` that means disjoint pairs (whose result is
    trivially the inputs) are OMITTED from the output; pass explicit
    `pairs` or all_pairs=True (small layers only) if every pair's row is
    wanted.

    snap_level routes every pair through JOINT snap rounding at that cell
    level before the boolean (overlay.region_boolean_snapped): both
    layers' vertices snap to cell centers and edges split at the shared
    site set, so near-coincident borders (digitized twice, jittered)
    resolve exactly — the reference's per-op S2Builder snap function."""
    if pairs is None:
        if all_pairs:
            pairs = a_polys.select(F.col("polygon_id").alias(a_id)).crossJoin(
                b_polys.select(F.col("polygon_id").alias(b_id))
            )
        else:
            from s2geo_spark.operators import cellset

            # lazy checkpoints of the covering UDF outputs: set_intersections
            # probes their distinct levels, and the first probe stores each
            # covering once for the probe and the join that follow. No
            # cache entry is taken; the blocks go with the result.
            cov_a = region_covering_df(a_polys, a_id).localCheckpoint(eager=False)
            cov_b = region_covering_df(b_polys, b_id).localCheckpoint(eager=False)
            pairs = cellset.set_intersections(cov_a, cov_b, a_id, b_id)
    a = a_polys.select(
        F.col("polygon_id").alias(a_id), F.col("loops").alias("a_loops")
    )
    b = b_polys.select(
        F.col("polygon_id").alias(b_id), F.col("loops").alias("b_loops")
    )
    joined = pairs.join(a, a_id).join(b, b_id)

    def combine(av, bv):
        from s2geo_spark.kernel import overlay as ov

        if snap_level is not None:
            return ov.region_boolean_snapped(av, bv, op, snap_level)
        return ov.overlay_boolean(av, bv, op)

    return _map_regions(joined, [a_id, b_id], ["a_loops", "b_loops"], combine)


def buffer_polygons(
    polys: DataFrame,
    radius_rad: float,
    max_error: float = 1e-7,
    id_col: str = "polygon_id",
) -> DataFrame:
    """Distributed S2BufferOperation: buffer every polygon's region by a
    signed spherical radius (kernel/polyline.buffer_loop_exact — exact
    offset curves, round joins, trims). Shells (even XOR depth) take the
    radius as-is; holes (odd depth) take the NEGATED radius — growing a
    region shrinks its holes — and a hole annihilated by the shrink
    simply vanishes. Loops must remain disjoint after buffering (merging
    shells is the boolean overlay's job, as in the reference's builder).
    Input (id, loops) rows like boolean_join; output (id, n_loops, area,
    loops) under the XOR convention. Per-polygon work distributes in one
    mapInPandas; no driver loop."""

    def buffer(arrs):
        from s2geo_spark.kernel import loops as lps
        from s2geo_spark.kernel import polyline as pl

        preps = [lps.PreparedLoop(l) for l in arrs]
        out_loops = []
        for i, verts in enumerate(arrs):
            depth = sum(
                1
                for j, p in enumerate(preps)
                if j != i and bool(p.contains_points(verts[:1])[0])
            )
            radius = radius_rad if depth % 2 == 0 else -radius_rad
            try:
                out_loops.extend(pl.buffer_loop_exact(verts, radius, max_error))
            except ValueError:
                if depth % 2 == 0:
                    raise
                # hole annihilated by the shrink: drop it
        return out_loops

    return _map_regions(polys, [id_col], ["loops"], buffer)


def winding_regions(
    loops_df: DataFrame,
    rule: str,
    id_col: str = "region_id",
) -> DataFrame:
    """Distributed S2WindingOperation: every input row carries an ARBITRARY
    oriented loop collection (self-intersecting, doubly-wound, mutually
    crossing — array of flattened (m*3) loops); the winding region under
    `rule` (positive/negative/non_zero/odd) comes back as XOR-nested CCW
    loops. Per-region work distributes in one mapInPandas
    (kernel/overlay.winding_operation, s2winding_operation.cc:560)."""

    def wind(arrs):
        from s2geo_spark.kernel import overlay as ov

        return ov.winding_operation(arrs, rule)

    return _map_regions(loops_df, [id_col], ["loops"], wind)
