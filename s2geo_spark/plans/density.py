"""Spatial density pre-pass + skew splitting — the S2DensityTree analog.

The reference builds a cell->weight tree to shard skewed spatial data
(S2DensityTree::InitToVertexDensity / GetPartitioning,
src/s2/s2density_tree.h:43-113, s2density_tree.cc). Spark-first restatement:

  * density  = groupBy(parent(cell, L)).count() — one hash aggregate with
    map-side partial aggregation; a per-level rollup gives the full tree
  * adaptive split = hot cells (count > max_weight) descend to children
    until balanced — a short driver loop over a tiny aggregated table
  * salting = hot join keys get a salt column (replicate the build side
    x S, hash-bucket the probe side), the north_rule's "explicit skew
    splitting for hot cells (dense urban tiles)"
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geo_spark import functions as sf


def cell_density(points: DataFrame, level: int, cell_col: str = "cell") -> DataFrame:
    """(cell_at_level, weight) — one shuffle, partial aggs map-side."""
    return (
        points.select(sf.s2_parent(cell_col, level).alias("dcell"))
        .groupBy("dcell")
        .agg(F.count("*").alias("weight"))
    )


def density_rollup(points: DataFrame, levels: list[int], cell_col: str = "cell") -> DataFrame:
    """Multi-level density tree as one DataFrame (level, cell, weight).

    Computed from the finest level's aggregate (small) rather than
    re-scanning the input per level: a lazy local checkpoint materializes
    it once, in the result's own action, and leaves no cache entry
    behind, so a long session calling it per input does not grow.
    """
    finest = max(levels)
    base = cell_density(points, finest, cell_col).localCheckpoint(eager=False)
    out = None
    for lv in sorted(levels):
        part = (
            base.select(
                F.lit(lv).alias("level"),
                sf.s2_parent("dcell", lv).alias("cell"),
                "weight",
            )
            .groupBy("level", "cell")
            .agg(F.sum("weight").alias("weight"))
        )
        out = part if out is None else out.unionByName(part)
    return out


def adaptive_partitioning(
    points: DataFrame,
    max_weight: int,
    start_level: int = 4,
    max_level: int = 12,
    cell_col: str = "cell",
):
    """Greedy equal-weight sharding (S2DensityTree::GetPartitioning analog).

    Returns a small pandas DataFrame (cell, level, weight) where every cell
    holds <= max_weight points unless already at max_level. Hot cells are
    recursively split to their children — the resulting cell set is the
    explicit partitioner for a skewed layer.

    Fully distributed (VERDICT r3 next-#3 — was toPandas + driver
    recursion, a driver bottleneck once the distinct fine-cell frame hits
    10^7-10^8 rows at 100 TB / max_level 12):

      * bottom-up cascade — one `groupBy(parent(cell, L)).sum` hash agg
        per level, each over the PREVIOUS level's (strictly smaller)
        aggregate; the fine density never leaves the executors
      * top-down greedy emit — cells within max_weight are shard leaves;
        cells above it stay "hot" and gate the next finer level via a
        broadcast left-semi join (the hot list is bounded by
        total_weight / max_weight, so the broadcast is safe)
      * only the FINAL shard list (bounded) is collected to the driver
    """
    levels = list(range(start_level, max_level, 2))
    if not levels or levels[-1] != max_level:
        levels.append(max_level)

    # the only frame derived from the (big) input — a lazy checkpoint, so
    # the per-level branches below re-aggregate it, not the raw points,
    # and no cache entry outlives the call
    base = cell_density(points, max_level, cell_col).localCheckpoint(eager=False)
    aggs = {max_level: base}
    cur = base
    for lv in reversed(levels[:-1]):
        cur = (
            cur.select(sf.s2_parent("dcell", lv).alias("dcell"), "weight")
            .groupBy("dcell")
            .agg(F.sum("weight").alias("weight"))
        )
        aggs[lv] = cur

    out = None
    hot = None
    hot_level = -1
    for i, lv in enumerate(levels):
        agg_lv = aggs[lv]
        if hot is not None:
            # keep only cells underneath a still-hot coarser cell
            h = hot.select(F.col("dcell").alias("hot_cell"))
            agg_lv = agg_lv.join(
                F.broadcast(h),
                sf.s2_parent("dcell", hot_level) == F.col("hot_cell"),
                "left_semi",
            )
        last = i == len(levels) - 1
        done = agg_lv if last else agg_lv.filter(F.col("weight") <= max_weight)
        done = done.select(
            F.col("dcell").alias("cell"),
            F.lit(lv).alias("level"),
            F.col("weight"),
        )
        out = done if out is None else out.unionByName(done)
        if not last:
            hot = agg_lv.filter(F.col("weight") > max_weight)
            hot_level = lv

    return out.toPandas()


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt: int,
    probe_id_col: str,
) -> DataFrame:
    """Skew-safe equi-join: replicate the (small) build side x salt,
    hash-bucket the probe side — hot keys spread over `salt` reducers.

    Equivalent to the north_rule's salted-broadcast strategy when build is
    broadcast; with a shuffle join it splits each hot key across salt
    partitions. AQE skew-join remains the backstop for residual skew.
    """
    salted_build = build.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    salted_probe = probe.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(probe_id_col)), F.lit(salt)).cast("int")
    )
    return salted_probe.join(salted_build, [key, "salt"]).drop("salt")
