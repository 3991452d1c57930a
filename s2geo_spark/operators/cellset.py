"""Relational cell-union algebra: DataFrame versions of SURVEY §2.6 and the
region×region term-indexer join (§2.4).

A "cell set" relation is (set_id, cell) with cells forming a normalized
union per set_id. A cell lies inside a cell at level L iff its ancestor
at L is that cell, so every containment test is a hash equi-join on
ancestor terms (functions.s2_ancestors) — Catalyst-only, no Python, no
range join:

  * term_join             — the reference's index/query term duality
    (S2RegionTermIndexer GetIndexTerms/GetQueryTerms,
    src/s2/s2region_term_indexer.cc:121-289) as ONE equi-join that
    matches every nested pair of cells once; set_intersections,
    set_intersection_cells and knn.closest_cell_join's candidates are
    thin calls on it
  * cells_contain_points  — points covered by a set
  * set_contains_set      — A ⊇ B per (a, b) pair
  * set_union / set_difference — cell-level set algebra (exploded;
    results re-normalized per set with the kernel)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.memo import memo


def cells_contain_points(cellsets: DataFrame, points: DataFrame,
                         set_id: str = "set_id", point_id: str = "point_id") -> DataFrame:
    """(set_id, point_id) pairs where the set's union covers the point's
    leaf cell: one equi-join of the leaf's ancestors at the sets' levels
    against the set cells. A point with a null or NaN lat or lon (leaf
    id 0) has no ancestors, so it is inside no set."""
    pts = points.withColumn("leaf", sf.s2_cell_id("lat", "lon"))
    terms = pts.select(
        point_id, F.explode(sf.s2_ancestors("leaf", _levels_of(cellsets))).alias("cell")
    )
    return terms.join(cellsets, "cell").select(set_id, point_id).distinct()


def term_join(
    a: DataFrame, b: DataFrame, levels_a: list | None = None,
    levels_b: list | None = None, broadcast_side: str | None = None,
) -> DataFrame:
    """Every pair of an a row and a b row whose cells are nested, as ONE
    hash equi-join: the reference's index/query term duality made
    relational (two cells intersect iff one contains the other).

    a and b each carry a `cell` column; their other columns are distinct
    and pass through, and the two cells come out as `a_cell` and
    `b_cell`. Each side is one pass over its (often an uncached UDF
    output) input: posexplode of [cell] ++ functions.s2_ancestors(cell,
    the other side's levels), position 0 being the covering term — an
    ancestor term can only equi-match a cell at that cell's own level,
    so the explode factor is the other side's distinct level count. A
    term matches when exactly one of the two is a covering term. a's
    ancestors include its own level and b's are strictly coarser, so a
    nested pair matches exactly once and equal cells match once.

    levels_a/levels_b default to a probe of the side (_levels_of); a
    caller that already knows them (crossing_join's ring levels come
    from a pure-JVM expression) passes them. broadcast_side ("a"/"b")
    lets a caller that KNOWS one side is small (size-gated upstream)
    ship that side's terms to every task, so the big side's exploded
    terms never shuffle."""
    lv_a = _levels_of(a) if levels_a is None else levels_a
    lv_b = _levels_of(b) if levels_b is None else levels_b

    def terms(df, side, levels, strict):
        arr = F.concat(F.array("cell"), sf.s2_ancestors("cell", levels, strict))
        return df.select(
            "*", F.posexplode(arr).alias(f"{side}_pos", f"{side}_term")
        ).withColumnRenamed("cell", f"{side}_cell")

    at = terms(a, "a", lv_b, strict=False)
    bt = terms(b, "b", lv_a, strict=True)
    if broadcast_side == "a":
        at = F.broadcast(at)
    elif broadcast_side == "b":
        bt = F.broadcast(bt)
    cond = (F.col("a_term") == F.col("b_term")) & (
        (F.col("a_pos") == 0) != (F.col("b_pos") == 0)
    )
    return at.join(bt, cond).drop("a_pos", "a_term", "b_pos", "b_term")


def set_intersections(
    a: DataFrame, b: DataFrame, a_id: str = "a_id", b_id: str = "b_id",
    levels_a: list | None = None, levels_b: list | None = None,
    broadcast_side: str | None = None,
) -> DataFrame:
    """All (a_id, b_id) pairs whose cell unions intersect: some cell of
    one contains a cell of the other (term_join; the level and broadcast
    arguments are its)."""
    return (
        term_join(a, b, levels_a, levels_b, broadcast_side)
        .select(a_id, b_id)
        .distinct()
    )


def set_contains_set(
    a: DataFrame, b: DataFrame, a_id: str = "a_id", b_id: str = "b_id"
) -> DataFrame:
    """(a_id, b_id) pairs where union A fully contains union B: every cell
    of B must fall inside some cell of A. Each B cell's ancestors at A's
    levels are equi-joined against A's cells, and a pair qualifies when
    its covered B cells number all of B's."""
    b_sizes = b.groupBy(b_id).agg(F.count("*").alias("n_b"))
    b_terms = b.select(
        b_id, F.col("cell").alias("b_cell"),
        F.explode(sf.s2_ancestors("cell", _levels_of(a))).alias("term"),
    )
    a_cov = a.select(F.col(a_id), F.col("cell").alias("term"))
    covered = (
        b_terms.join(a_cov, "term")
        .select(a_id, b_id, "b_cell")
        .distinct()
        .groupBy(a_id, b_id)
        .agg(F.count("*").alias("n_covered"))
    )
    return (
        covered.join(b_sizes, b_id)
        .filter(F.col("n_covered") == F.col("n_b"))
        .select(a_id, b_id)
    )


def normalize_sets(cellsets: DataFrame, set_id: str = "set_id") -> DataFrame:
    """Re-normalize each set's cells (sort, drop contained, merge sibling
    quadruples) with the kernel, per group."""
    out_schema = f"{set_id} long, cell long"

    def per_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from s2geo_spark.kernel import cellunion

        cells = pdf["cell"].to_numpy().view(np.uint64)
        norm = cellunion.normalize(cells)
        return pd.DataFrame({set_id: [key[0]] * len(norm), "cell": norm.view(np.int64)})

    return cellsets.groupBy(set_id).applyInPandas(per_group, schema=out_schema)


def set_union(a: DataFrame, b: DataFrame, set_id: str = "set_id") -> DataFrame:
    """Per-id union of two cell-set relations, normalized."""
    return normalize_sets(a.unionByName(b), set_id)


def _levels_of(df: DataFrame) -> list:
    """Distinct S2 levels present in a cell-set relation (<=31 rows);
    memoized per DataFrame object so repeated set operations against the
    same relation pay the probe job once."""
    return memo(
        df,
        "levels",
        lambda: sorted(
            int(r["lv"])
            for r in df.select(sf.s2_level_expr("cell").alias("lv"))
            .distinct()
            .collect()
        ),
    )


def set_intersection_cells(
    a: DataFrame, b: DataFrame, a_id: str = "a_id", b_id: str = "b_id"
) -> DataFrame:
    """Cell-level intersection of each (a, b) pair: the finer cell survives
    where one side's cell contains the other's (s2cell_union.cc:351-418).

    One term_join, no cartesian product and no union of two joins: each
    nested pair of cells matches once, so normalized inputs give no
    duplicate rows. Shuffles scale with |A|·levels(B) + |B|·levels(A),
    not |A|·|B|."""
    finer = F.when(
        sf.s2_level_expr("a_cell") >= sf.s2_level_expr("b_cell"), F.col("a_cell")
    ).otherwise(F.col("b_cell"))
    return term_join(a, b).select(a_id, b_id, finer.alias("cell"))


def set_difference(
    a: DataFrame, b: DataFrame, set_id: str = "set_id"
) -> DataFrame:
    """Per-id difference A \\ B of two cell-set relations, normalized
    (s2cell_union.cc:420-448 semantics: recursive subdivision of A-cells
    that partially overlap B).

    Plan: cogrouped applyInPandas on set_id running the kernel's recursive
    difference per set — distributed per set, never driver-side. One
    union (one set_id's cells) is always group-sized (coverings are
    <=max_cells, typically tens of cells), so per-group is the scale-safe
    shape; the shuffle is a single hash partition on set_id."""
    out_schema = f"{set_id} long, cell long"

    def per_group(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        from s2geo_spark.kernel import cellunion

        if len(a_pdf) == 0:
            return pd.DataFrame({set_id: [], "cell": []}).astype(
                {set_id: "int64", "cell": "int64"}
            )
        ac = a_pdf["cell"].to_numpy().view(np.uint64)
        if len(b_pdf) == 0:
            diff = cellunion.normalize(ac)
        else:
            bc = b_pdf["cell"].to_numpy().view(np.uint64)
            diff = cellunion.difference(ac, bc)
        return pd.DataFrame(
            {set_id: [key[0]] * len(diff), "cell": diff.view(np.int64)}
        )

    return (
        a.groupBy(set_id)
        .cogroup(b.groupBy(set_id))
        .applyInPandas(per_group, schema=out_schema)
    )
