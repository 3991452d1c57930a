"""S2 coordinate-system transforms, vectorized in NumPy.

Reimplements (from scratch, for columnar batches) the transform pipeline of
the reference S2 library:

    (lat, lng) -> (x, y, z) -> (face, u, v) -> (face, s, t) -> (face, i, j)

Semantics anchors in the reference (read-only, /root/reference):
  * quadratic projection UVtoST/STtoUV: src/s2/s2coords.h:321-329 (projection
    selector src/s2/s2coords.h:288)
  * STtoIJ truncate+clamp: src/s2/s2coords.h:342-349
  * SiTi <-> ST: src/s2/s2coords.h:351-359 (round-half-even on encode)
  * FaceUVtoXYZ / ValidFaceXYZtoUV per-face tables: src/s2/s2coords.h:361-397
  * GetFace = argmax(|x|,|y|,|z|) (+3 if negative): src/s2/s2coords.h:389-397
  * lat/lng <-> xyz: src/s2/s2latlng.cc:67-84
  * Hilbert sub-cell tables kIJtoPos/kPosToIJ/kPosToOrientation:
    src/s2/s2coords.cc:33-57

All functions take/return NumPy arrays (float64 / int64) and contain no
per-row Python. They are the compute core used by the pandas UDFs in
``s2geo_spark.functions``.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants (src/s2/s2coords.h:119-131, s2coords_internal.h:36-37)
# ---------------------------------------------------------------------------

MAX_CELL_LEVEL = 30  # v1 kMaxLevel
LIMIT_IJ = 1 << MAX_CELL_LEVEL  # 2^30
MAX_SI_TI = 1 << (MAX_CELL_LEVEL + 1)  # 2^31

SWAP_MASK = 0x01
INVERT_MASK = 0x02

# kIJtoPos[orientation][ij] (src/s2/s2coords.cc:33-40)
IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.int64
)

# kPosToIJ[orientation][pos] (src/s2/s2coords.cc:42-49)
POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)

# kPosToOrientation[pos] (src/s2/s2coords.cc:52-57)
POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK], dtype=np.int64
)


# ---------------------------------------------------------------------------
# lat/lng <-> xyz
# ---------------------------------------------------------------------------

def latlng_degrees_to_xyz(lat_deg, lon_deg):
    """(lat, lng) degrees -> unit-sphere (x, y, z).

    Matches S2LatLng::ToPoint (src/s2/s2latlng.cc:67-76): per-component
    sin/cos of the radian values; the result is unit-length to within
    float rounding.
    """
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_phi = np.cos(phi)
    return (
        np.cos(theta) * cos_phi,
        np.sin(theta) * cos_phi,
        np.sin(phi),
    )


def xyz_to_latlng_degrees(x, y, z):
    """(x, y, z) -> (lat, lng) degrees.

    Matches S2LatLng(const S2Point&) (src/s2/s2latlng.cc:78-84 via
    Latitude/Longitude, src/s2/s2latlng.h:235-252):
    lat = atan2(z, sqrt(x^2+y^2)), lng = atan2(y, x).
    Scale-invariant, so works for non-normalized center points too.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lng)


# ---------------------------------------------------------------------------
# xyz <-> (face, u, v)
# ---------------------------------------------------------------------------

def get_face(x, y, z):
    """Face index 0..5 = argmax abs component, +3 if that component < 0.

    Mirrors GetFace / LargestAbsComponent (src/s2/s2coords.h:389-397).
    Ties resolve like C++ Vector3::LargestAbsComponent: x wins over y wins
    over z only when strictly greater -- i.e. the *last* max wins there
    (abs(x) > abs(y) ? (abs(x) > abs(z) ? 0 : 2) : (abs(y) > abs(z) ? 1 : 2)).
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # temp = x>y ? (x>z ? 0 : 2) : (y>z ? 1 : 2)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    return np.where(comp < 0.0, axis + 3, axis).astype(np.int64)


def valid_face_xyz_to_uv(face, x, y, z):
    """(face, xyz) -> (u, v) per the per-face division table.

    Mirrors ValidFaceXYZtoUV (src/s2/s2coords.h:376-387) with two divisions:
    every face's (u, v) is (num_u / denom, num_v / denom) where denom is
    the major-axis component, so gather numerators/denominator and divide
    once per coordinate (the old np.select form paid 12 full-array
    divisions). Real IEEE divisions — bit-identical to the per-face y/x
    forms the reference and the SQL oracles use.
    """
    face = np.asarray(face)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    if face.ndim == 0:
        face = face[None]
        x, y, z = np.atleast_1d(x), np.atleast_1d(y), np.atleast_1d(z)
        scalar = True
    else:
        scalar = False
    nx, ny = -x, -y
    denom = np.choose(face % 3, [x, y, z])
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y, nx, nx, z, z, ny]) / denom
        v = np.choose(face, [z, z, ny, y, nx, nx]) / denom
    if scalar:
        return u[0], v[0]
    return u, v


def xyz_to_face_uv(x, y, z):
    """xyz -> (face, u, v). Mirrors XYZtoFaceUV (src/s2/s2coords.h:399-403).

    Fused form of get_face + valid_face_xyz_to_uv: the major-axis
    component is gathered once and reused as the divisor (it IS the
    denominator for every face), saving a full-array gather pass on the
    encode hot path. Bit-identical to the unfused pair."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp < 0.0, axis + 3, axis).astype(np.int64)
    nx, ny = -x, -y
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y, nx, nx, z, z, ny]) / comp
        v = np.choose(face, [z, z, ny, y, nx, nx]) / comp
    return face, u, v


def face_uv_to_xyz(face, u, v):
    """(face, u, v) -> xyz (not normalized).

    Mirrors FaceUVtoXYZ (src/s2/s2coords.h:361-370).
    """
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    conds = [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5]
    x = np.select(conds, [one, -u, -u, -one, v, v])
    y = np.select(conds, [u, one, -v, -v, -one, u])
    z = np.select(conds, [v, v, one, -u, -u, -one])
    return x, y, z


# ---------------------------------------------------------------------------
# Quadratic projection u <-> s (src/s2/s2coords.h:321-329)
# ---------------------------------------------------------------------------

def uv_to_st(u):
    """u -> s, quadratic projection: u>=0 ? 0.5*sqrt(1+3u) : 1-0.5*sqrt(1-3u)."""
    u = np.asarray(u, dtype=np.float64)
    # Both branches evaluate under np.where; the non-selected one may take
    # sqrt of a negative — harmless, silence it.
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def st_to_uv(s):
    """s -> u, inverse quadratic: s>=0.5 ? (1/3)(4s^2-1) : (1/3)(1-4(1-s)^2)."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


# ---------------------------------------------------------------------------
# s <-> i and si/ti (src/s2/s2coords.h:337-359)
# ---------------------------------------------------------------------------

def st_to_ij(s):
    """s -> i: clamp(trunc(2^30 * s), 0, 2^30-1).

    C++ static_cast<int> truncates toward zero; s >= 0 in the clamped
    domain so truncation == floor (src/s2/s2coords.h:342-349).
    """
    s = np.asarray(s, dtype=np.float64)
    return np.clip((LIMIT_IJ * s).astype(np.int64), 0, LIMIT_IJ - 1)


def ij_to_st_min(i):
    """i -> s at the cell minimum: i / 2^30 (src/s2/s2coords.h:337-340)."""
    return (1.0 / LIMIT_IJ) * np.asarray(i, dtype=np.float64)


def siti_to_st(si):
    """si -> s: si / 2^31 (src/s2/s2coords.h:351-354)."""
    return (1.0 / MAX_SI_TI) * np.asarray(si, dtype=np.float64)


def face_siti_to_xyz(face, si, ti):
    """(face, si, ti) -> xyz center (not normalized).

    Mirrors FaceSiTitoXYZ (src/s2/s2coords.cc:143-147).
    """
    u = st_to_uv(siti_to_st(si))
    v = st_to_uv(siti_to_st(ti))
    return face_uv_to_xyz(face, u, v)
