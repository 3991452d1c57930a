"""H3-style aperture-7 hexagonal indexing, vectorized NumPy.

Implemented from the PUBLIC H3 specification's published algorithms (Uber
H3: gnomonic projection onto icosahedron faces, Class II/III hex grids with
an asin(sqrt(3/28)) rotation per resolution, cube-coordinate hex rounding,
aperture-7 parent/child digit extraction, 64-bit index layout with mode /
resolution / base / 3-bit digits). H3 is NOT part of the reference repo —
see SURVEY.md §2.1 — the requirement comes from BASELINE.json's north_star.

Faithful-structure notes:
  * The 20 icosahedron face centers are derived from a canonical icosahedron
    (vertices (0, ±1, ±φ) cyclic, normalized) rather than H3's Dymaxion
    orientation constants, and each face roots its own hierarchy (base cell
    = face) instead of the 122-base-cell layout. Grid geometry (aperture-7,
    Class II/III rotations, hex shapes, areas) matches the spec; absolute
    cell ids differ from libh3 by the fixed orientation. All operations are
    self-consistent and deterministic.
  * Point assignment = nearest face (icosahedral Voronoi), then nearest
    hex center on that face's grid (cube-coordinate rounding, provably
    nearest within a grid — tests/test_h3 property-checks it). The sphere
    partition is the face-clipped hex tiling: exactly 20*7^res regions.
    h3_to_geo returns the true center for interior cells and the exact
    centroid of the clipped region for border cells, so
    geo_to_h3(h3_to_geo(h)) round-trips exactly at every resolution 0..15.
  * k_ring neighbors CROSS faces: out-of-patch ring entries re-encode
    their geometric center on the owning face's grid (the face-rooted
    analogue of libh3's cross-face IJK rotation). The two grids differ
    slightly at the seam, so a border ring can rarely contain a duplicate
    entry (~1e-4 of rows) — documented; pentagon distortion has no
    analogue here (no pentagons in the 20-face-rooted layout).

Index layout (64 bits, following the spec's field order):
    [1 reserved=0][4 mode=1][3 reserved=0][4 res][7 base(face)][15 x 3-bit
    digit, unused digits = 7]
"""

from __future__ import annotations

import numpy as np

MAX_RES = 15
MODE_HEX = 1

_PHI = (1.0 + np.sqrt(5.0)) / 2.0

# aperture-7 rotation (Class III): asin(sqrt(3/28)), public constant
M_AP7_ROT_RADS = np.arcsin(np.sqrt(3.0 / 28.0))
# gnomonic scaling of the res-0 unit hexagon: chosen so ONE res-0 hexagon
# covers a whole face patch (the Voronoi region of a face center extends to
# the icosahedron vertices, gnomonic radius tan(37.377 deg) ~= 0.7639; a
# unit hex has inradius 0.5, so 1.6 gives inradius 0.8 > 0.7639). The face
# IS the res-0 cell — 20 base patches instead of H3's 122 base cells.
RES0_U_GNOMONIC = 1.6
_SQRT7 = np.sqrt(7.0)
_SIN60 = np.sqrt(3.0) / 2.0


def _icosahedron_faces():
    """20 face centers + per-face orthonormal tangent bases."""
    phi = _PHI
    verts = []
    for a in (-1.0, 1.0):
        for b in (-phi, phi):
            verts += [(0, a, b), (a, b, 0), (b, 0, a)]
    verts = np.array(verts, dtype=np.float64)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    # faces = triples of mutually-nearest vertices: find all triangles with
    # pairwise distance == edge length (min nonzero pairwise distance)
    d2 = ((verts[:, None, :] - verts[None, :, :]) ** 2).sum(-1)
    edge2 = np.min(d2[d2 > 1e-9])
    tris = []
    nv = len(verts)
    for i in range(nv):
        for j in range(i + 1, nv):
            if abs(d2[i, j] - edge2) > 1e-9:
                continue
            for k in range(j + 1, nv):
                if (
                    abs(d2[i, k] - edge2) < 1e-9
                    and abs(d2[j, k] - edge2) < 1e-9
                ):
                    tris.append((i, j, k))
    assert len(tris) == 20, len(tris)
    centers = np.array(
        [verts[list(t)].mean(axis=0) for t in tris], dtype=np.float64
    )
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # deterministic face order: sort by (z, y, x) descending
    order = np.lexsort((centers[:, 0], centers[:, 1], -centers[:, 2]))
    centers = centers[order]
    # tangent basis per face: u toward the first vertex projection, v = c x u
    us = np.empty_like(centers)
    vs = np.empty_like(centers)
    for f in range(20):
        c = centers[f]
        ref = verts[tris[order[f]][0]]
        u = ref - ref.dot(c) * c
        u /= np.linalg.norm(u)
        us[f] = u
        vs[f] = np.cross(c, u)
    return centers, us, vs


FACE_CENTERS, FACE_U, FACE_V = _icosahedron_faces()


# ---------------------------------------------------------------------------
# geo <-> face 2d (gnomonic)
# ---------------------------------------------------------------------------

def _latlng_to_xyz(lat_deg, lon_deg):
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cp = np.cos(phi)
    return np.stack([np.cos(lam) * cp, np.sin(lam) * cp, np.sin(phi)], axis=-1)


def _nearest_face(xyz):
    dots = xyz @ FACE_CENTERS.T  # (n, 20)
    return np.argmax(dots, axis=-1), dots


def _res_rotation(res):
    """(scale, cos, sin) of the res-level grid transform: scale by
    sqrt7^res / RES0 and rotate by -res * AP7 (Class III per level)."""
    res = int(res)
    k = (_SQRT7 ** res) / RES0_U_GNOMONIC
    phi = M_AP7_ROT_RADS * res
    return k, float(np.cos(phi)), float(np.sin(phi))


def _project_to_face(xyz, face, res):
    """xyz + explicit face -> (x, y) on that face's gnomonic hex grid.

    Pure multiply-add form (rotation as a linear map, no
    hypot/atan2/sincos per point): same math as the polar form, ~3x
    faster, and reproducible in plain SQL for the DuckDB oracle."""
    c = FACE_CENTERS[face]
    d = (xyz * c).sum(-1)
    # gnomonic: project along the ray to the tangent plane at the center
    scale_to_plane = 1.0 / np.maximum(d, 1e-15)
    p = xyz * scale_to_plane[..., None] - c
    gx = (p * FACE_U[face]).sum(-1)
    gy = (p * FACE_V[face]).sum(-1)
    k, cphi, sphi = _res_rotation(res)
    # rotate by -res*phi then scale
    return k * (gx * cphi + gy * sphi), k * (gy * cphi - gx * sphi)


def _geo_to_hex2d(lat_deg, lon_deg, res):
    """lat/lng -> (face, x, y) on the nearest face's gnomonic hex grid."""
    xyz = _latlng_to_xyz(lat_deg, lon_deg)
    face, _dots = _nearest_face(xyz)
    x, y = _project_to_face(xyz, face, res)
    return face, x, y


def _grid_to_gnomonic(hx, hy, res):
    """Inverse of the res-level grid transform (vectorized over res)."""
    res_f = np.asarray(res, dtype=np.float64)
    k = (_SQRT7 ** res_f) / RES0_U_GNOMONIC
    phi = M_AP7_ROT_RADS * res_f
    cphi, sphi = np.cos(phi), np.sin(phi)
    gx = (hx * cphi - hy * sphi) / k
    gy = (hy * cphi + hx * sphi) / k
    return gx, gy


def _ijk_center_xyz(face, i, j, k, res):
    """Unit xyz of a face-local IJK cell center (inverse projection)."""
    hx, hy = _ijk_to_hex2d(i, j, k)
    gx, gy = _grid_to_gnomonic(hx, hy, res)
    p = (
        FACE_CENTERS[face]
        + gx[..., None] * FACE_U[face]
        + gy[..., None] * FACE_V[face]
    )
    return p / np.linalg.norm(p, axis=-1, keepdims=True)


# ---------------------------------------------------------------------------
# hex2d <-> IJK (cube coordinates), the spec's rounding algorithm
# ---------------------------------------------------------------------------

def _hex2d_to_ijk(x, y):
    """Cartesian -> NEAREST hex center in normalized IJK coordinates.

    Standard cube-coordinate rounding (the public axial/cube hex-grid
    algorithm): invert the center map of _ijk_to_hex2d (axial a = i-k,
    b = j-k at positions (a - b/2, b*sin60)), round each cube coordinate,
    then repair the coordinate with the largest rounding error so
    a+b+c == 0. For a hexagonal lattice this provably selects the nearest
    center (Voronoi cell = the hexagon), replacing the round-1 region
    transliteration whose thresholds mis-assigned ~1/3 of points
    (ADVICE r1 high). Centers land exactly on integers, so geo round-trips
    are float-noise-robust without snapping."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    b = y / _SIN60
    a = x + 0.5 * b
    # this lattice's neighbor set in (a, b) is {±(1,0), ±(0,1), ±(1,1)};
    # mapping (q, r) = (a, -b) yields the standard axial neighbor set
    # {±(1,0), ±(0,1), ±(1,-1)} that cube rounding assumes
    cx, cz = a, -b
    cy = -cx - cz
    rx = np.rint(cx)
    ry = np.rint(cy)
    rz = np.rint(cz)
    dx = np.abs(rx - cx)
    dy = np.abs(ry - cy)
    dz = np.abs(rz - cz)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    fix_z = ~fix_x & ~fix_y
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(fix_z, -rx - ry, rz)
    i = rx.astype(np.int64)
    j = (-rz).astype(np.int64)
    return _ijk_normalize(i, j, np.zeros_like(i))


def _ijk_normalize(i, j, k):
    """Shift so min(i,j,k) == 0 (hex cube coords are translation-invariant
    along (1,1,1))."""
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _ijk_to_hex2d(i, j, k):
    """Center of an IJK cell on the grid plane (inverse of rounding)."""
    i = np.asarray(i, dtype=np.float64) - np.asarray(k, dtype=np.float64)
    j = np.asarray(j, dtype=np.float64) - np.asarray(k, dtype=np.float64)
    x = i - 0.5 * j
    y = j * _SIN60
    return x, y


# unit IJK vector per digit 0..6 (center + 6 neighbors), spec order
_UNIT_IJK = np.array(
    [
        [0, 0, 0],  # 0 CENTER
        [0, 0, 1],  # 1 K
        [0, 1, 0],  # 2 J
        [0, 1, 1],  # 3 JK
        [1, 0, 0],  # 4 I
        [1, 0, 1],  # 5 IK
        [1, 1, 0],  # 6 IJ
    ],
    dtype=np.int64,
)


def _digit_from_unit(i, j, k):
    """(i,j,k) in {0,1}^3 normalized -> digit 0..6; anything else -> 7
    (no silent clipping — out-of-range offsets must surface as invalid)."""
    in_range = (i >= 0) & (i <= 1) & (j >= 0) & (j <= 1) & (k >= 0) & (k <= 1)
    code = ((i & 1) << 2) | ((j & 1) << 1) | (k & 1)
    lut = np.full(8, 7, dtype=np.int64)
    for d, (ui, uj, uk) in enumerate(_UNIT_IJK):
        lut[(ui << 2) | (uj << 1) | uk] = d
    return np.where(in_range, lut[code], 7)


def _up_ap7(i, j, k, class_iii):
    """Aperture-7 parent (published _upAp7 / _upAp7r): axial coords,
    rounded. class_iii selects the counter-rotated variant."""
    a = (i - k).astype(np.float64)
    b = (j - k).astype(np.float64)
    if class_iii:
        ni = np.round((3.0 * a - b) / 7.0).astype(np.int64)
        nj = np.round((a + 2.0 * b) / 7.0).astype(np.int64)
    else:
        ni = np.round((2.0 * a + b) / 7.0).astype(np.int64)
        nj = np.round((3.0 * b - a) / 7.0).astype(np.int64)
    return _ijk_normalize(ni, nj, np.zeros_like(ni))


def _down_ap7(i, j, k, class_iii):
    """Aperture-7 center child — the exact integer inverse of _up_ap7:
    up uses M/7 with M = [[3,-1],[1,2]] (det 7), so down is M^-1 * 7 =
    [[2,1],[-1,3]] (and the transposed pair for the other rotation)."""
    a = i - k
    b = j - k
    if class_iii:
        ni = 2 * a + b
        nj = -a + 3 * b
    else:
        ni = 3 * a - b
        nj = a + 2 * b
    return _ijk_normalize(ni, nj, np.zeros_like(ni))


def _neighbor_ijk(i, j, k, digit):
    """Move one cell in the direction of `digit` (same res)."""
    d = _UNIT_IJK[digit]
    return _ijk_normalize(i + d[..., 0], j + d[..., 1], k + d[..., 2])


# ---------------------------------------------------------------------------
# index packing
# ---------------------------------------------------------------------------

def _pack(face, res, digits, root_digit=None):
    """face (n,), res int, digits (n, res) -> uint64 indexes.

    root_digit (0..6) occupies the 3 bits between mode and res: ~0.05% of
    points chain up to a res-0 cell that is a unit neighbor of the face
    origin ("children stick out" in aperture-7); the root digit keeps the
    index lossless."""
    n = face.shape[0]
    out = np.zeros(n, dtype=np.uint64)
    out |= np.uint64(MODE_HEX) << np.uint64(59)
    if root_digit is not None:
        out |= root_digit.astype(np.uint64) << np.uint64(56)
    out |= np.uint64(res) << np.uint64(52)
    out |= face.astype(np.uint64) << np.uint64(45)
    digit_field = np.full(n, 0, dtype=np.uint64)
    for r in range(1, MAX_RES + 1):
        if r <= res:
            d = digits[:, r - 1].astype(np.uint64)
        else:
            d = np.full(n, 7, dtype=np.uint64)
        digit_field |= d << np.uint64(3 * (MAX_RES - r))
    return out | digit_field


def get_resolution(h):
    return ((np.asarray(h, dtype=np.uint64) >> np.uint64(52)) & np.uint64(0xF)).astype(
        np.int64
    )


def get_root_digit(h):
    return ((np.asarray(h, dtype=np.uint64) >> np.uint64(56)) & np.uint64(7)).astype(
        np.int64
    )


def get_base(h):
    return ((np.asarray(h, dtype=np.uint64) >> np.uint64(45)) & np.uint64(0x7F)).astype(
        np.int64
    )


def get_digit(h, r):
    """Digit at res r (1-based)."""
    return (
        (np.asarray(h, dtype=np.uint64) >> np.uint64(3 * (MAX_RES - r)))
        & np.uint64(7)
    ).astype(np.int64)


def is_valid(h):
    h = np.asarray(h, dtype=np.uint64)
    mode_ok = ((h >> np.uint64(59)) & np.uint64(0xF)) == np.uint64(MODE_HEX)
    top_ok = (h >> np.uint64(63)) == np.uint64(0)
    res = get_resolution(h)
    base_ok = get_base(h) < 20
    root_ok = get_root_digit(h) < 7
    ok = mode_ok & top_ok & (res <= MAX_RES) & base_ok & root_ok
    for r in range(1, MAX_RES + 1):
        d = get_digit(h, r)
        ok &= np.where(r <= res, d < 7, d == 7)
    return ok


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def geo_to_h3(lat_deg, lon_deg, res: int, layout: str = "face20"):
    """(lat, lng) degrees -> hex index at resolution res.

    layout="h3" opts into the true 122-base-cell Dymaxion structure
    (kernel/h3_dymaxion.py — 12 pentagons, seamless rings, exact center
    round-trips; still NOT libh3-bit-compatible, see its header).

    Assignment: nearest face (icosahedral Voronoi) first, then the nearest
    hex center on that face's grid (cube rounding — provably nearest
    within the grid). The sphere partition is therefore the face-clipped
    hex tiling: exactly 20*7^res regions, hierarchy-consistent under
    aperture-7 parents. The trade (documented; libh3 instead translates
    IJK across faces): a border cell's *unclipped* center can exit the
    face patch, so center round-trips miss for those cells (~3% at res 3,
    <0.1% at res >= 7, worst ~25% at res 0). A global-nearest-center
    variant was tried and rejected — it turns the tiling into the Voronoi
    of 7x overlapping representable centers and breaks the partition."""
    if layout == "h3":
        from . import h3_dymaxion

        return h3_dymaxion.geo_to_h3(lat_deg, lon_deg, res).view(np.uint64)
    lat_deg = np.asarray(lat_deg, dtype=np.float64)
    res = int(res)
    face, x, y = _geo_to_hex2d(lat_deg, lon_deg, res)
    face = np.atleast_1d(face)
    i, j, k = _hex2d_to_ijk(x, y)
    ids, valid = _pack_from_ijk_checked(face, res, np.atleast_1d(i), np.atleast_1d(j), np.atleast_1d(k))
    if not valid.all():
        raise ValueError("point chained beyond the unit root ring")
    return ids


def h3_to_ijk(h):
    """Index -> (face, res (n,), i, j, k) by descending the digit path.

    Handles mixed-resolution batches (ADVICE r1: the old code read res
    from the first row only, indexing _UNIT_IJK with the digit-7 filler of
    shorter paths): rows are processed grouped by their own resolution."""
    h = np.asarray(h, dtype=np.uint64)
    n = h.shape[0]
    face = get_base(h)
    res = get_resolution(h).astype(np.int64)
    root = _UNIT_IJK[get_root_digit(h)]
    i = root[:, 0].copy()
    j = root[:, 1].copy()
    k = root[:, 2].copy()
    for R in np.unique(res):
        rows = np.nonzero(res == R)[0]
        ri, rj, rk = i[rows], j[rows], k[rows]
        hr = h[rows]
        for r in range(1, int(R) + 1):
            ri, rj, rk = _down_ap7(ri, rj, rk, True)
            u = _UNIT_IJK[get_digit(hr, r)]
            ri, rj, rk = _ijk_normalize(ri + u[:, 0], rj + u[:, 1], rk + u[:, 2])
        i[rows], j[rows], k[rows] = ri, rj, rk
    return face, res, i, j, k


def _patch_halfplanes(face):
    """Face f's icosahedral-Voronoi region as half-planes in its gnomonic
    (gx, gy) plane: for every other face g, x . (c_f - c_g) >= 0 becomes
    c0 + a*gx + b*gy >= 0 with c0 = c_f.n, a = U.n, b = V.n."""
    cf = FACE_CENTERS[face]
    out = []
    for g in range(20):
        if g == face:
            continue
        n = cf - FACE_CENTERS[g]
        out.append(
            (float(cf @ n), float(FACE_U[face] @ n), float(FACE_V[face] @ n))
        )
    return out


def _clip_region_representative(face, i, j, k, res):
    """Exact representative of a border cell: Sutherland-Hodgman clip of
    the hex polygon against the face patch (both convex in the gnomonic
    plane), then the clipped polygon's centroid. Guaranteed inside
    hex INTERSECT patch whenever that region is nonempty."""
    # hex vertices in grid coords: center + circumradius/sqrt(3) at
    # angles 30 + 60k degrees (neighbors sit along 0/60/120 axes)
    cx, cy = _ijk_to_hex2d(np.array([i]), np.array([j]), np.array([k]))
    ang = np.radians(30.0 + 60.0 * np.arange(6))
    vx = cx[0] + np.cos(ang) / np.sqrt(3.0)
    vy = cy[0] + np.sin(ang) / np.sqrt(3.0)
    # grid -> gnomonic (undo res scaling + Class III rotation)
    pgx, pgy = _grid_to_gnomonic(vx, vy, float(res))
    poly = list(zip(pgx, pgy))
    for c0, a, b in _patch_halfplanes(face):
        if not poly:
            return None
        nxt = []
        m = len(poly)
        for idx in range(m):
            p1, p2 = poly[idx], poly[(idx + 1) % m]
            d1 = c0 + a * p1[0] + b * p1[1]
            d2 = c0 + a * p2[0] + b * p2[1]
            if d1 >= 0:
                nxt.append(p1)
            if (d1 >= 0) != (d2 >= 0):
                t = d1 / (d1 - d2)
                nxt.append((p1[0] + t * (p2[0] - p1[0]),
                            p1[1] + t * (p2[1] - p1[1])))
        poly = nxt
    if not poly:
        return None
    gx = sum(p[0] for p in poly) / len(poly)
    gy = sum(p[1] for p in poly) / len(poly)
    p3 = FACE_CENTERS[face] + gx * FACE_U[face] + gy * FACE_V[face]
    return p3 / np.linalg.norm(p3)


def h3_to_geo(h, layout: str = "face20"):
    """Index -> representative point (lat, lng) degrees.

    layout="h3" routes to the 122-base-cell Dymaxion layout.

    For interior cells this is the true hex center. For border cells whose
    unclipped center exits the face patch (the face-clipped tiling's
    boundary case), it is the centroid of the cell's ACTUAL region — the
    hex clipped to the face patch (exact convex polygon clip in the
    gnomonic plane) — so geo_to_h3(h3_to_geo(h)) is exact at every
    resolution (swept 0..15 in tests)."""
    if layout == "h3":
        from . import h3_dymaxion

        return h3_dymaxion.h3_to_geo(np.asarray(h).astype(np.int64))
    face, res, i, j, k = h3_to_ijk(h)
    center = _ijk_center_xyz(face, i, j, k, np.asarray(res, dtype=np.float64))
    nearest = np.argmax(center @ FACE_CENTERS.T, axis=-1)
    need = np.nonzero(nearest != face)[0]
    if len(need):
        center = center.copy()
        for r in need:
            rep = _clip_region_representative(
                int(face[r]), int(i[r]), int(j[r]), int(k[r]), int(res[r])
            )
            if rep is not None:
                center[r] = rep
    lat = np.degrees(np.arcsin(np.clip(center[..., 2], -1, 1)))
    lon = np.degrees(np.arctan2(center[..., 1], center[..., 0]))
    return lat, lon



def h3_to_parent(h, parent_res: int, layout: str = "face20"):
    """Truncate the digit path."""
    if layout == "h3":
        from . import h3_dymaxion

        return h3_dymaxion.h3_to_parent(h, parent_res)
    h = np.asarray(h, dtype=np.uint64)
    res = get_resolution(h)
    parent_res = int(parent_res)
    out = h.copy()
    # set res field
    out &= ~(np.uint64(0xF) << np.uint64(52))
    out |= np.uint64(parent_res) << np.uint64(52)
    # blank digits beyond parent_res
    for r in range(parent_res + 1, MAX_RES + 1):
        out |= np.uint64(7) << np.uint64(3 * (MAX_RES - r))
    return np.where(res < parent_res, h, out)


def h3_to_center_child(h, child_res: int):
    """Center child at child_res (digit 0 path)."""
    h = np.asarray(h, dtype=np.uint64)
    res = get_resolution(h)
    child_res = int(child_res)
    out = h.copy()
    out &= ~(np.uint64(0xF) << np.uint64(52))
    out |= np.uint64(child_res) << np.uint64(52)
    for r in range(1, MAX_RES + 1):
        if r > child_res:
            continue
        mask = np.uint64(7) << np.uint64(3 * (MAX_RES - r))
        # digits past the original res become 0 (center)
        clear = res < r
        out = np.where(clear, out & ~mask, out)
    return np.where(res > child_res, h, out)


def k_ring(h, k: int, layout: str = "face20"):
    """All cells within hex-grid distance k, CROSS-FACE.

    layout="h3" routes to the Dymaxion layout's seamless BFS ring (no
    duplicate entries by construction; variable return length).

    Returns (n, m) uint64 with m = 1 + 3k(k+1). Ring entries whose
    face-local IJK is unrepresentable or whose geometric center exits the
    face patch are re-encoded through geo_to_h3 of that center — i.e. the
    neighbor is "the cell of the adjacent face's grid containing the
    geometric neighbor center" (the face-rooted analogue of libh3's
    cross-face IJK rotation; the two grids differ slightly at the seam,
    documented). Round-1's face-local truncation is gone."""
    if layout == "h3":
        from . import h3_dymaxion

        return h3_dymaxion.k_ring(
            np.asarray(h, dtype=np.uint64).view(np.int64), k
        ).view(np.uint64)
    h = np.asarray(h, dtype=np.uint64)
    face, res, i, j, k0 = h3_to_ijk(h)
    # hex offsets within grid distance k: this lattice's unit moves are
    # {±(1,0), ±(0,1), ±(1,1)} (digit table), so distance(da, db) =
    # (|da| + |db| + |da - db|) / 2 and the k-disk is |da|,|db|,|da-db| <= k
    # (the standard-axial |da+db| form is the ADVICE-r1 wrong adjacency)
    offsets = []
    for di in range(-k, k + 1):
        for dj in range(max(-k, di - k), min(k, di + k) + 1):
            offsets.append((di, dj))
    out = np.empty((h.shape[0], len(offsets)), dtype=np.uint64)
    a = i - k0
    b = j - k0
    for R in np.unique(res):
        rows = np.nonzero(res == R)[0]
        for idx, (di, dj) in enumerate(offsets):
            ni, nj, nk = _ijk_normalize(
                a[rows] + di, b[rows] + dj, np.zeros_like(a[rows])
            )
            ids, valid = _pack_from_ijk_checked(face[rows], int(R), ni, nj, nk)
            # cross-face repair: unrepresentable or out-of-patch entries
            # are re-encoded from the geometric center
            center = _ijk_center_xyz(face[rows], ni, nj, nk, float(R))
            in_patch = np.argmax(center @ FACE_CENTERS.T, axis=-1) == face[rows]
            need = ~(valid & in_patch)
            if need.any():
                clat = np.degrees(np.arcsin(np.clip(center[need, 2], -1, 1)))
                clon = np.degrees(np.arctan2(center[need, 1], center[need, 0]))
                ids = ids.copy()
                ids[need] = geo_to_h3(clat, clon, int(R))
            out[rows, idx] = ids
    return out


def _pack_from_ijk_checked(face, res, i, j, k):
    """(face, res, ijk) -> (index, representable) via digit extraction.

    representable is False when the chain tops out beyond the unit root
    ring (the face-local index layout can't express ring-2+ res-0 cells)."""
    n = face.shape[0]
    digits = np.zeros((n, max(res, 1)), dtype=np.int64)
    valid = np.ones(n, dtype=bool)
    ci, cj, ck = i, j, k
    for r in range(res, 0, -1):
        pi, pj, pk = _up_ap7(ci, cj, ck, True)
        di_, dj_, dk_ = _down_ap7(pi, pj, pk, True)
        off = _ijk_normalize(ci - di_, cj - dj_, ck - dk_)
        d = _digit_from_unit(*off)
        valid &= d != 7
        digits[:, r - 1] = np.where(d == 7, 0, d)
        ci, cj, ck = pi, pj, pk
    if res == 0:
        digits = digits[:, :0]
    root = _digit_from_unit(*_ijk_normalize(ci, cj, ck))
    valid &= root != 7
    return _pack(face, res, digits, np.where(root == 7, 0, root)), valid


def polyfill(
    vertices: np.ndarray, res: int, layout: str = "face20", slack: int = 1
) -> np.ndarray:
    """Cells at `res` whose CENTERS lie inside the loop — the upstream
    library's polyfill/polygonToCells semantics (center containment, not
    intersection). Works on either layout.

    BFS flood fill seeded at the cells of EVERY loop vertex plus the
    vertex centroid (the boundary-cell band is connected and touches the
    region for any simple loop shape, so concave polygons whose centroid
    falls outside — crescents, C-shapes — still fill completely; a
    centroid-only seed dies there). The frontier expands over ring-1
    neighbors in BATCHED k_ring calls (one per budget class per round,
    not one per cell); only cells whose center passes the exact
    crossing-parity PIP (kernel/loops.PreparedLoop — the same predicate
    the S2 joins use) are emitted, and outside-center cells expand up to
    `slack` extra hops so thin necks are crossed. Raise `slack` for
    necks thinner than `slack` cells at this resolution (the tradeoff vs
    the upstream bbox-enumeration approach: the BFS never visits the
    bounding box's empty majority). The loop must be smaller than a
    hemisphere (the PreparedLoop precondition).
    """
    from . import loops as _loops

    v = np.asarray(vertices, dtype=np.float64).reshape(-1, 3)
    lp = _loops.PreparedLoop(v)
    dtype = np.int64 if layout == "h3" else np.uint64

    def _inside(ids: np.ndarray) -> np.ndarray:
        lat, lon = h3_to_geo(ids, layout=layout)
        xyz = _latlng_to_xyz(np.atleast_1d(lat), np.atleast_1d(lon))
        return lp.contains_points(np.asarray(xyz).reshape(-1, 3))

    c = v.mean(axis=0)
    c /= np.linalg.norm(c)
    seeds_xyz = np.vstack([v, c[None, :]])
    seed_lat = np.degrees(np.arcsin(np.clip(seeds_xyz[:, 2], -1, 1)))
    seed_lon = np.degrees(np.arctan2(seeds_xyz[:, 1], seeds_xyz[:, 0]))
    seed = np.asarray(
        geo_to_h3(seed_lat, seed_lon, res, layout=layout)
    ).view(np.int64)

    inside_ids: set[int] = set()
    # best known expansion budget per discovered cell
    budgets = {int(x): slack for x in np.unique(seed).tolist()}
    frontier = dict(budgets)
    while frontier:
        cells = np.fromiter(frontier.keys(), dtype=np.int64, count=len(frontier))
        ins = _inside(cells.astype(dtype) if layout != "h3" else cells)
        # group expansion sources by the budget their neighbors inherit
        groups: dict[int, list[int]] = {}
        for cell, ok in zip(cells.tolist(), ins.tolist()):
            if ok:
                inside_ids.add(cell)
                nb_budget = slack
            else:
                nb_budget = frontier[cell] - 1
            if nb_budget >= 0:
                groups.setdefault(nb_budget, []).append(cell)
        nxt: dict[int, int] = {}
        for nb_budget, group in groups.items():
            ring = k_ring(np.array(group, dtype=dtype), 1, layout=layout)
            for nb in np.asarray(ring).view(np.int64).ravel().tolist():
                nb = int(nb)
                known = budgets.get(nb)
                if known is None or (nb_budget > known and nb not in inside_ids):
                    budgets[nb] = max(nb_budget, known or 0)
                    nxt[nb] = max(nxt.get(nb, -1), nb_budget)
        frontier = nxt
    out = np.array(sorted(inside_ids), dtype=np.int64)
    return out.view(np.uint64) if layout == "face20" else out
