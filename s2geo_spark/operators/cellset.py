"""Relational cell-union algebra: DataFrame versions of SURVEY §2.6 and the
region×region term-indexer join (§2.4).

A "cell set" relation is (set_id, cell) with cells forming a normalized
union per set_id. All operations are joins/aggregations on the Hilbert
ranges [range_min, range_max] (s2cell_id_v1.h:629-647) using the unsigned
sort key — Catalyst-only, no Python:

  * cells_contain_points  — points covered by a set (range join)
  * set_contains_set      — A ⊇ B per (a, b) pair
  * set_intersections     — all (a, b) pairs whose unions intersect, via
    the reference's ancestor/covering term duality
    (S2RegionTermIndexer GetIndexTerms/GetQueryTerms,
    src/s2/s2region_term_indexer.cc:121-289): intersects(A, B) <=>
    (covering(A) ∩ ancestors(B)) ∪ (ancestors(A) ∩ covering(B)) != ∅ —
    ONE union of two hash equi-joins, no range join.
  * set_union / set_intersection / set_difference — cell-level set algebra
    (exploded; results re-normalized per set with the kernel)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.memo import memo

_SIGN = -(1 << 63)


def cells_contain_points(cellsets: DataFrame, points: DataFrame,
                         set_id: str = "set_id", point_id: str = "point_id") -> DataFrame:
    """(set_id, point_id) pairs where the set's union covers the point's
    leaf cell. Equi-join on the quantized ancestor when the set's levels
    are few; generic range-join fallback kept simple here via ancestors."""
    levels = _levels_of(cellsets)
    pts = points.withColumn("leaf", sf.s2_cell_id("lat", "lon"))
    anc = F.array(*[sf.s2_parent("leaf", L) for L in sorted(levels)])
    terms = pts.withColumn("term", F.explode(anc))
    cs = cellsets.withColumnRenamed("cell", "set_cell")
    return (
        terms.join(cs, terms["term"] == cs["set_cell"])
        .select(set_id, point_id)
        .distinct()
    )


def _tagged_terms(df: DataFrame, id_col: str, anc_levels: list) -> DataFrame:
    """One exploded table per side: the cell itself tagged cov=true plus
    its ancestors at `anc_levels` tagged cov=false — a single pass over
    the (possibly expensive, e.g. ring-UDF) input subtree."""
    lv = sf.s2_level_expr("cell")
    items = [
        F.struct(F.col("cell").alias("term"), F.lit(True).alias("cov"))
    ] + [
        F.when(
            F.lit(L) <= lv,
            F.struct(sf.s2_parent("cell", L).alias("term"),
                     F.lit(False).alias("cov")),
        )
        for L in sorted(anc_levels)
    ]
    arr = F.filter(F.array(*items), lambda c: c.isNotNull())
    return df.select(id_col, F.explode(arr).alias("t")).select(
        id_col, F.col("t.term").alias("term"), F.col("t.cov").alias("cov")
    )


def set_intersections(
    a: DataFrame, b: DataFrame, a_id: str = "a_id", b_id: str = "b_id",
    levels_a: list | None = None, levels_b: list | None = None,
    broadcast_side: str | None = None,
) -> DataFrame:
    """All (a_id, b_id) pairs whose cell unions intersect.

    Two unions intersect iff some cell of one contains a cell of the other
    — i.e. covering(A) matches an ancestor-term of B or vice versa (the
    reference's index/query term duality made relational). Both match
    directions run as ONE hash equi-join on the term with a cov(A) !=
    cov(B) residual over tagged term tables, so each side's input subtree
    (often an uncached UDF output) is computed once, not twice, and the
    plan has a single join instead of two joins + union.

    A side's ancestor terms are generated only at the levels actually
    present on the OTHER side (a term can only equi-match a cell at that
    cell's own level), so the explode factor is the other side's distinct
    level count, not the span of levels. Callers that
    already know their level sets (e.g. crossing_join, whose ring levels
    come from a pure-JVM expression) pass levels_a/levels_b to skip the
    probe. broadcast_side ("a"/"b") lets a caller that KNOWS one layer is
    small (size-gated upstream) ship that side's terms to every task —
    the big side's exploded terms then never shuffle."""
    lv_a = levels_a if levels_a is not None else _levels_of(a)
    lv_b = levels_b if levels_b is not None else _levels_of(b)
    at = _tagged_terms(a, a_id, lv_b)
    bt = _tagged_terms(b, b_id, lv_a)
    if broadcast_side == "a":
        at = F.broadcast(at)
    elif broadcast_side == "b":
        bt = F.broadcast(bt)
    cond = (at["term"] == bt["term"]) & (at["cov"] != bt["cov"])
    return at.join(bt, cond).select(a_id, b_id).distinct()


def set_contains_set(
    a: DataFrame, b: DataFrame, a_id: str = "a_id", b_id: str = "b_id"
) -> DataFrame:
    """(a_id, b_id) pairs where union A fully contains union B: every cell
    of B must fall inside some cell of A. Anti-join of the uncovered-cell
    set against all candidate pairs."""
    b_sizes = b.groupBy(b_id).agg(F.count("*").alias("n_b"))
    # covered (a, b_cell) pairs via ancestor equi-join on A's levels
    levels = _levels_of(a)
    anc = F.filter(
        F.array(*[
            F.when(F.lit(L) <= sf.s2_level_expr("cell"), sf.s2_parent("cell", L))
            for L in sorted(levels)
        ]),
        lambda c: c.isNotNull(),
    )
    b_terms = b.select(b_id, F.col("cell").alias("b_cell"), F.explode(anc).alias("term"))
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

    Relational plan: hash equi-joins on quantized ancestors — a cell of A
    lies inside a cell of B iff A's ancestor at B's level equals B's cell.
    Two equi-joins (a-inside-b at levels(B), strictly-b-inside-a at
    levels(A)), no cartesian product; the strict second branch keeps the
    equal-cell case single-counted. Shuffles scale with |A|·levels(B), not
    |A|·|B|."""
    lv_a = sf.s2_level_expr("cell")

    def anc_terms(df, keep_id, other_levels, strict):
        arr = F.filter(
            F.array(*[
                F.when(
                    (F.lit(L) < lv_a) if strict else (F.lit(L) <= lv_a),
                    sf.s2_parent("cell", L),
                )
                for L in other_levels
            ]),
            lambda c: c.isNotNull(),
        )
        return df.select(
            F.col(keep_id), F.col("cell"), F.explode(arr).alias("term")
        )

    levels_b = _levels_of(b)
    levels_a = _levels_of(a)
    # branch 1: a_cell inside (or equal to) some b_cell
    a_terms = anc_terms(a, a_id, levels_b, strict=False)
    b_side = b.select(F.col(b_id), F.col("cell").alias("term"))
    p1 = a_terms.join(b_side, "term").select(a_id, b_id, "cell")
    # branch 2: b_cell STRICTLY inside some a_cell (equality handled above)
    b_terms = anc_terms(b, b_id, levels_a, strict=True)
    a_side = a.select(F.col(a_id), F.col("cell").alias("term"))
    p2 = b_terms.join(a_side, "term").select(a_id, b_id, "cell")
    return p1.unionByName(p2)


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
