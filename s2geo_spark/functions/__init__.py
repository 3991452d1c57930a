"""DataFrame-level spatial functions: pandas UDFs + pure-Column expressions.

The one owner of the spatial vocabulary the operators share: unit
vectors (xyz_cols), squared chord distances (chord2), cell rings
(s2_ring), term-indexer keys (quad_key, quad_terms) and ancestor terms
(s2_ancestors).

Design split (SURVEY.md §4.2):

* Everything expressible as int64 bit math (parents, range_min/max, tile
  assignment, tokens-as-hex, sort keys) is a **Column expression** — it stays
  JVM-side inside whole-stage codegen.
* Only the transcendental / Hilbert-table work (lat/lng -> cell id, cell ->
  center) crosses into Python, as **Arrow-batched pandas UDFs** over the
  NumPy kernel (no per-row Python).

Cell ids are uint64 bit patterns carried in Spark LongType (two's
complement). All bit-level ops (lsb, &, |, +, -) are representation-
identical between int64 and uint64, so parent/range math works directly on
LongType. Only *comparisons* differ: use :func:`s2_sortkey` (sign-bit flip)
whenever unsigned order matters (range joins, sorting).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from s2geo_spark.kernel import cellid_v1 as _v1
from s2geo_spark.kernel import cellid_v2 as _v2
from s2geo_spark.memo import memo

__all__ = [
    "h3_cell",
    "h3_kring",
    "h3_parent",
    "s2_cell_id",
    "s2_ring",
    "s2_face_ij_attach",
    "quad_key",
    "quad_terms",
    "xyz_cols",
    "chord2",
    "s2_v2_id",
    "s2_cell_center",
    "s2_parent",
    "s2_ancestors",
    "s2_level_expr",
    "s2_range_min",
    "s2_range_max",
    "s2_sortkey",
    "s2_token_expr",
    "s2_face_expr",
    "tile_assign",
    "MAX_LEVEL",
]

MAX_LEVEL = 30
_SIGN_BIT = -(1 << 63)


def _u64(series: pd.Series) -> np.ndarray:
    """LongType pandas series -> uint64 bit view."""
    return series.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


def _i64(arr: np.ndarray) -> pd.Series:
    """uint64 kernel output -> LongType-compatible series (bit reinterpret)."""
    return pd.Series(arr.view(np.int64))


# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-batched; the only Python in the hot path)
# ---------------------------------------------------------------------------

@F.pandas_udf(LongType())
def s2_cell_id(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """(lat, lon) degrees -> v1 leaf cell id (level 30) as int64 bits.

    Vectorized pipeline of reference s2cell_id_v1.cc:316-325. Null lat/lon
    rows yield cell id 0 (invalid).
    """
    mask = lat.isna() | lon.isna()
    ids = _v1.from_latlng(
        lat.to_numpy(dtype=np.float64, na_value=0.0),
        lon.to_numpy(dtype=np.float64, na_value=0.0),
    )
    if mask.any():
        ids = np.where(mask.to_numpy(), np.uint64(0), ids)
    return _i64(ids)


@F.pandas_udf(LongType())
def s2_v2_id(v1_id: pd.Series) -> pd.Series:
    """v1 cell id -> the fork's v2 encoding (s2cell_id.h:33-1091)."""
    return _i64(_v2.from_v1(_u64(v1_id)))


_CENTER_SCHEMA = StructType(
    [StructField("lat", DoubleType()), StructField("lng", DoubleType())]
)


@F.pandas_udf(_CENTER_SCHEMA)
def s2_cell_center(cell: pd.Series) -> pd.DataFrame:
    """cell id -> center (lat, lng) degrees (s2cell_id_v1.cc:385-393)."""
    lat, lng = _v1.to_latlng_degrees(_u64(cell))
    return pd.DataFrame({"lat": lat, "lng": lng})


@F.pandas_udf(ArrayType(LongType()))
def _ring_udf(lat: pd.Series, lon: pd.Series, level: pd.Series) -> pd.Series:
    leaf = _v1.from_latlng(lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64))
    return pd.Series(list(_v1.ring_cells(leaf, level.to_numpy()).view(np.int64)))


def s2_ring(lat, lon, level) -> Column:
    """(lat, lon) degrees + per-row level -> the distinct cells of
    cellid_v1.ring_cells: the point's ancestor at that level and its 8
    neighbors (S2CellId::AppendAllNeighbors); level 0 gives the six face
    cells, a ring that covers the sphere. Encode and ring run in ONE
    Arrow round trip (a ring UDF over an encode UDF would not chain: two
    arguments, two ArrowEvalPython operators). Callers drop null/NaN
    lat or lon rows first."""
    return F.array_distinct(_ring_udf(_col(lat), _col(lon), _col(level)))


def h3_cell(lat, lon, res: int, layout: str = "face20") -> Column:
    """(lat, lon) -> H3-style aperture-7 hex index at `res` (kernel/h3.py).
    layout="h3" opts into the 122-base-cell Dymaxion structure."""
    from s2geo_spark.kernel import h3 as _h3

    @F.pandas_udf(LongType())
    def _enc(la: pd.Series, lo: pd.Series) -> pd.Series:
        mask = la.isna() | lo.isna()
        out = _h3.geo_to_h3(
            la.to_numpy(dtype=np.float64, na_value=0.0),
            lo.to_numpy(dtype=np.float64, na_value=0.0),
            res,
            layout=layout,
        )
        if mask.any():
            out = np.where(mask.to_numpy(), np.uint64(0), out)
        return _i64(out)

    return _enc(_col(lat), _col(lon))


def h3_parent(cell, parent_res: int, layout: str = "face20") -> Column:
    """Hex index -> ancestor at parent_res (digit-path truncation)."""
    from s2geo_spark.kernel import h3 as _h3

    @F.pandas_udf(LongType())
    def _par(c: pd.Series) -> pd.Series:
        return _i64(
            np.asarray(
                _h3.h3_to_parent(_u64(c), parent_res, layout=layout)
            ).view(np.uint64)
            if layout == "h3"
            else _h3.h3_to_parent(_u64(c), parent_res)
        )

    return _par(_col(cell))


def h3_kring(cell, k: int, layout: str = "face20") -> Column:
    """Hex index -> array of all cells within grid distance k. With
    layout="h3" rings are variable-length (seamless BFS, pentagons have
    5 ring-1 neighbors) and computed per row."""
    from pyspark.sql.types import ArrayType

    from s2geo_spark.kernel import h3 as _h3

    @F.pandas_udf(ArrayType(LongType()))
    def _ring(c: pd.Series) -> pd.Series:
        if layout == "h3":
            from s2geo_spark.kernel import h3_dymaxion as _hd

            # _u64 handles nullable cell columns (na_value=0), matching
            # the face20 branch below. Ring membership depends only on
            # the cell value, and real columns repeat cells heavily —
            # dedupe per Arrow batch and compute each distinct ring once
            # (the dymaxion k_ring pays a beam-search geo_to_h3 plus ~60
            # probe re-encodes per hop; ADVICE r4 low)
            vals = _u64(c).view(np.int64)
            uniq, inv = np.unique(vals, return_inverse=True)
            rings = [
                _hd.k_ring(np.array([u], dtype=np.int64), k).tolist()
                for u in uniq
            ]
            return pd.Series([rings[i] for i in inv])
        rings = _h3.k_ring(_u64(c), k).view(np.int64)
        return pd.Series(list(rings))

    return _ring(_col(cell))


# ---------------------------------------------------------------------------
# Column expressions (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def s2_parent(cell, level: int) -> Column:
    """Ancestor at `level`: (id & -new_lsb) | new_lsb (s2cell_id_v1.h:649-656).

    Identical bit result in int64 two's complement; pure Column math.
    """
    new_lsb = 1 << (2 * (MAX_LEVEL - level))
    c = _col(cell)
    return (c.bitwiseAND(F.lit(-new_lsb))).bitwiseOR(F.lit(new_lsb))


def s2_ancestors(cell, levels, strict: bool = False) -> Column:
    """The cell's ancestors at each of `levels` no finer than the cell
    (strictly coarser with `strict`), coarsest first: the ancestor terms
    of S2RegionTermIndexer (src/s2/s2region_term_indexer.cc:121-289).

    A null cell, and the id 0 that s2_cell_id gives a null or NaN
    coordinate, have no level (log2 of a zero lsb is null), so they get
    no terms."""
    c = _col(cell)
    lv = s2_level_expr(c)
    return F.filter(
        F.array(*[
            F.when((F.lit(L) < lv) if strict else (F.lit(L) <= lv), s2_parent(c, L))
            for L in sorted(levels)
        ]),
        lambda t: t.isNotNull(),
    )


def _lsb_expr(cell) -> Column:
    c = _col(cell)
    return c.bitwiseAND(-c)


def s2_range_min(cell) -> Column:
    """id - (lsb - 1) (s2cell_id_v1.h:629-631)."""
    c = _col(cell)
    return c - (_lsb_expr(c) - F.lit(1))


def s2_range_max(cell) -> Column:
    """id + (lsb - 1) (s2cell_id_v1.h:633-635)."""
    c = _col(cell)
    return c + (_lsb_expr(c) - F.lit(1))


def s2_sortkey(cell) -> Column:
    """Map uint64 bit pattern to int64 preserving unsigned order
    (flip the sign bit). Use for ORDER BY / BETWEEN on cell ids."""
    return _col(cell).bitwiseXOR(F.lit(_SIGN_BIT))


def s2_level_expr(cell) -> Column:
    """level = 30 - countr_zero(id)/2, via log2 of the isolated lsb.

    Works for valid ids (lsb in an odd bit position <= 2^60, so the double
    conversion is exact). JVM-side: log2 on the lsb.
    """
    c = _col(cell)
    lsb = _lsb_expr(c)
    tz = F.floor(F.log2(lsb.cast("double")))
    return (F.lit(MAX_LEVEL) - (tz / 2).cast("long")).cast("int")


def s2_face_expr(cell) -> Column:
    """Top 3 bits = face. int64 arithmetic shift needs the unsigned view:
    use shiftrightunsigned."""
    return F.shiftrightunsigned(_col(cell), 61).cast("int")


def s2_token_expr(cell) -> Column:
    """Hex token, trailing zeros stripped, 0 -> 'X' (s2cell_id_v1.cc:222-239).

    Pure JVM string ops: hex() gives uppercase without leading zeros; pad to
    16, lowercase, strip trailing zeros.
    """
    c = _col(cell)
    hex16 = F.lower(F.lpad(F.hex(c), 16, "0"))
    return F.when(c == 0, F.lit("X")).otherwise(
        F.regexp_replace(hex16, "0+$", "")
    )


def tile_assign(cell, tile_level: int) -> Column:
    """Tile id = ancestor cell at tile_level (the engine's tiling operator)."""
    return s2_parent(cell, tile_level)


def xyz_cols(df, lat="lat", lon="lon", names=("px", "py", "pz")):
    """Attach the unit vector of (lat, lon) degrees as the three columns
    `names` (S2LatLng::ToPoint, src/s2/s2latlng.cc:67-76): pure Catalyst trig,
    no UDF."""
    phi = F.radians(_col(lat))
    theta = F.radians(_col(lon))
    x, y, z = names
    return df.withColumns(
        {x: F.cos(theta) * F.cos(phi), y: F.sin(theta) * F.cos(phi), z: F.sin(phi)}
    )


def chord2(a, b) -> Column:
    """Squared chord distance |a - b|^2 between two unit vectors, each an
    (x, y, z) triple of columns: S1ChordAngle's length2, monotone in the
    angle (src/s2/s1chord_angle.h)."""
    (ax, ay, az), (bx, by, bz) = ([_col(c) for c in v] for v in (a, b))
    return (ax - bx) ** 2 + (ay - by) ** 2 + (az - bz) ** 2


def s2_face_ij_attach(df, lat, lon, face: str = "f", i: str = "i",
                      j: str = "j"):
    """Attach (face, i, j) leaf-coordinate columns as PURE Catalyst
    expressions — the full S2 transform (trig -> face argmax -> per-face
    u,v -> quadratic ST -> truncate-clamp, s2coords.h:321-403) with no
    Python; bit-for-bit the kernel's values (verified by the
    s2_quad_counts oracle query + tests). Only the Hilbert interleave
    needs the kernel: joins keyed on (face,i,j) quads (quad_key) skip it.

    The transform is built as STAGED projections: the x/y/z/face/u/v
    subtrees become intermediate columns referenced by name, so the
    analyzer sees four small projections instead of one ~10^3-node tree
    (~0.2 s of driver analysis latency per query construction on the
    monolithic form), and CollapseProject keeps non-cheap trig that is
    referenced more than once un-inlined, so codegen computes each
    subtree once. A null or NaN lat/lon yields the valid-looking
    (2, 0, 0), so callers drop such rows first."""
    df = xyz_cols(df, lat, lon, ("__s2x", "__s2y", "__s2z"))
    x, y, z = F.col("__s2x"), F.col("__s2y"), F.col("__s2z")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    axis = F.when(
        (ax > ay) & (ax > az), F.lit(0)
    ).when(ay > az, F.lit(1)).otherwise(F.lit(2))
    comp = F.when(axis == 0, x).when(axis == 1, y).otherwise(z)
    df = df.withColumn(
        "__s2face", F.when(comp < 0, axis + 3).otherwise(axis)
    )
    fc = F.col("__s2face")
    u = (
        F.when(fc == 0, y / x)
        .when(fc == 1, -x / y)
        .when(fc == 2, -x / z)
        .when(fc == 3, z / x)
        .when(fc == 4, z / y)
        .otherwise(-y / z)
    )
    v = (
        F.when(fc == 0, z / x)
        .when(fc == 1, z / y)
        .when(fc == 2, -y / z)
        .when(fc == 3, y / x)
        .when(fc == 4, -x / y)
        .otherwise(-x / z)
    )
    df = df.withColumns({"__s2u": u, "__s2v": v})

    def st(c):
        return F.when(c >= 0, 0.5 * F.sqrt(1.0 + 3.0 * c)).otherwise(
            1.0 - 0.5 * F.sqrt(1.0 - 3.0 * c)
        )

    df = df.withColumns(
        {"__s2si": st(F.col("__s2u")), "__s2sj": st(F.col("__s2v"))}
    )

    def ij(c):
        return F.least(
            F.greatest(
                F.floor(F.lit(float(1 << 30)) * c).cast("long"), F.lit(0)
            ),
            F.lit((1 << 30) - 1),
        )

    df = df.withColumns(
        {
            face: fc.cast("int"),
            i: ij(F.col("__s2si")),
            j: ij(F.col("__s2sj")),
        }
    )
    return df.drop(
        "__s2x", "__s2y", "__s2z", "__s2face", "__s2u", "__s2v",
        "__s2si", "__s2sj",
    )


def quad_key(face, i, j, level: int) -> Column:
    """Pack (face, level, i>>s, j>>s) into one int64 join key.

    Equality of quad keys at a cell's own level <=> point inside that cell
    (cells are exactly (face, i-range x j-range) boxes,
    s2cell_id_v1.cc:407-417). Layout: face*2^58 + level*2^53 + iq*2^26 + jq;
    valid for level <= 25 (join levels are <= 16).
    """
    if level > 25:
        raise ValueError("quad_key supports level <= 25")

    def build():
        s = 30 - level
        iq = F.shiftrightunsigned(_col(i), s)
        jq = F.shiftrightunsigned(_col(j), s)
        return (
            (_col(face).cast("long") * F.lit(1 << 58))
            + (F.lit(level).cast("long") * F.lit(1 << 53))
            + iq * F.lit(1 << 26)
            + jq
        )

    if not all(isinstance(c, str) for c in (face, i, j)):
        return build()
    # a Column wraps a JVM object, so the tree is memoized on the live
    # SparkContext: a new context (new gateway) starts with an empty memo
    return memo(
        SparkContext._active_spark_context, ("quad", face, i, j, level), build
    )


def quad_terms(df, lat, lon, levels):
    """df + (f, i, j) + one row per point per level in `levels`, its quad
    key at that level in column `term`: the term indexer's query terms
    for a point (S2RegionTermIndexer, src/s2/s2region_term_indexer.cc:121-289),
    equi-joined against spatial.cell_quads keys.

    A null or NaN lat or lon gets no term, so its row drops. Not a
    dropna: its filter is pushed below the projections and re-evaluates
    lat/lon there (the flagship re-parses them from text)."""
    pts = s2_face_ij_attach(df, lat, lon)
    quads = F.array(*[quad_key("f", "i", "j", L) for L in levels])
    la, lo = _col(lat), _col(lon)
    valid = la.isNotNull() & lo.isNotNull() & ~F.isnan(la) & ~F.isnan(lo)
    return pts.withColumn("term", F.explode(F.when(valid, quads)))
