"""Classic (v1) S2 cell-id kernel — vectorized NumPy, bit-exact.

Reimplements from scratch (as whole-column uint64 math, no per-row Python)
the semantics of the reference's classic cell id, which the fork keeps at
``s2v1::S2CellId`` (src/s2/s2cell_id_v1.{h,cc}):

  id layout: [3-bit face][60-bit Hilbert position][1 trailing 1-bit marker]
  level(id) = 30 - countr_zero(id) / 2        (s2cell_id_v1.h:582-590)
  encode    = 8 rounds of a 4-bit-radix Hilbert lookup
              (s2cell_id_v1.cc:272-314), tables built by the recursive
              InitLookupCell (s2cell_id_v1.cc:89-124)
  decode    = inverse gathers (s2cell_id_v1.cc:328-383)

All ids are carried as ``np.uint64``; the Spark layer stores them as
LongType (same 64 bits, two's complement).
"""

from __future__ import annotations

import numpy as np

from . import s2coords as sc

MAX_LEVEL = 30
NUM_FACES = 6
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL

_LOOKUP_BITS = 4

_U1 = np.uint64(1)
_U2 = np.uint64(2)
_U0 = np.uint64(0)
_UMASK4 = np.uint64(15)
_UMASK2 = np.uint64(3)

# kWrapOffset = 6 << kPosBits (s2cell_id_v1.h:491-492)
WRAP_OFFSET = np.uint64(6) << np.uint64(POS_BITS)


def _build_lookup_tables():
    """Build lookup_pos / lookup_ij (1024-entry uint16 tables).

    Same construction as InitLookupCell (s2cell_id_v1.cc:89-124): expand the
    Hilbert curve 4 levels deep for each of the 4 starting orientations.
    Runs once at import; the result is pure data.
    """
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    pos_to_ij = sc.POS_TO_IJ
    pos_to_orient = sc.POS_TO_ORIENTATION

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = pos_to_ij[orientation]
        for k in range(4):
            init(
                level,
                i + int(r[k] >> 1),
                j + int(r[k] & 1),
                orig_orientation,
                pos + k,
                orientation ^ int(pos_to_orient[k]),
            )

    for o in (0, sc.SWAP_MASK, sc.INVERT_MASK, sc.SWAP_MASK | sc.INVERT_MASK):
        init(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_lookup_tables()


def _compose_pos8():
    """8-bit-radix encode table composed from two 4-bit steps (vectorized,
    ~2MB, built once at import). Entry layout mirrors LOOKUP_POS:
    index = (i8 << 10) | (j8 << 2) | orientation, value = (pos16 << 2) |
    orientation'. Bit-identical to two LOOKUP_POS rounds by construction —
    the encode just takes half as many passes over the data."""
    idx = np.arange(1 << 18, dtype=np.int64)
    o = idx & 3
    i8 = (idx >> 10) & 255
    j8 = (idx >> 2) & 255
    hi = LOOKUP_POS[((i8 >> 4) << 6) + ((j8 >> 4) << 2) + o]
    lo = LOOKUP_POS[((i8 & 15) << 6) + ((j8 & 15) << 2) + (hi & 3)]
    return (((hi >> 2) << 10) | ((lo >> 2) << 2)) | (lo & 3)


LOOKUP_POS8 = _compose_pos8()


def _compose_ij8():
    """8-bit-radix decode table (the LOOKUP_IJ composition mirror of
    _compose_pos8): index = (pos16 << 2) | orientation, value =
    (i8 << 10) | (j8 << 2) | orientation'. Two 4-bit decode steps fused;
    bit-identical by construction."""
    idx = np.arange(1 << 18, dtype=np.int64)
    o = idx & 3
    pos16 = idx >> 2
    hi = LOOKUP_IJ[((pos16 >> 8) << 2) + o]
    lo = LOOKUP_IJ[((pos16 & 255) << 2) + (hi & 3)]
    i8 = ((hi >> 6) << 4) | (lo >> 6)
    j8 = (((hi >> 2) & 15) << 4) | ((lo >> 2) & 15)
    return (i8 << 10) | (j8 << 2) | (lo & 3)


LOOKUP_IJ8 = _compose_ij8()


# ---------------------------------------------------------------------------
# Encode: (face, i, j) -> leaf id
# ---------------------------------------------------------------------------

def from_face_ij(face, i, j):
    """(face, i, j) -> v1 leaf cell id (uint64).

    Vectorized transliteration of the 8-round 4-bit-radix Hilbert encode
    (s2cell_id_v1.cc:272-314): each round maps 4 bits of i, 4 bits of j and
    the running 2-bit orientation through lookup_pos.
    """
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)

    n = face << 60  # face << (kPosBits - 1); fits int64 (face <= 5)
    bits = face & sc.SWAP_MASK
    # 4 rounds of the composed 8-bit-radix table (== 8 reference rounds;
    # same 32-bit zero-padding of the 30-bit i/j as the 4-bit loop)
    for k in range(3, -1, -1):
        bits = bits + (((i >> (k * 8)) & 255) << 10)
        bits = bits + (((j >> (k * 8)) & 255) << 2)
        bits = LOOKUP_POS8[bits]
        n = n | ((bits >> 2) << (k * 16))
        bits = bits & 3
    # id = n * 2 + 1, computed in uint64 (top bit may be set for face 4/5).
    return (n.astype(np.uint64) << _U1) + _U1


def from_latlng(lat_deg, lon_deg):
    """(lat, lng) degrees -> v1 leaf id. Pipeline of s2cell_id_v1.cc:316-325."""
    x, y, z = sc.latlng_degrees_to_xyz(lat_deg, lon_deg)
    return from_point(x, y, z)


def from_point(x, y, z):
    """xyz -> v1 leaf id (s2cell_id_v1.cc:316-322)."""
    face, u, v = sc.xyz_to_face_uv(x, y, z)
    i = sc.st_to_ij(sc.uv_to_st(u))
    j = sc.st_to_ij(sc.uv_to_st(v))
    return from_face_ij(face, i, j)


# ---------------------------------------------------------------------------
# Decode: id -> (face, i, j, orientation)
# ---------------------------------------------------------------------------

def to_face_ij_orientation(cell_id, want_orientation=False):
    """id -> (face, i, j[, orientation]) (s2cell_id_v1.cc:328-383).

    Works for cells at any level (i,j are the leaf coordinates of the
    Hilbert-center leaf within the cell, exactly like the reference).
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    f = face(cell_id)
    bits = (f & sc.SWAP_MASK).astype(np.int64)
    i = np.zeros(cell_id.shape, dtype=np.int64)
    j = np.zeros(cell_id.shape, dtype=np.int64)
    # 4 rounds of the composed 8-bit-radix decode table (== 8 reference
    # rounds; the top round's 6 levels zero-pad exactly like the 4-bit
    # loop's 2-level top chunk)
    for k in range(3, -1, -1):
        nlv = (MAX_LEVEL - 3 * 8) if k == 3 else 8
        chunk = (
            (cell_id >> np.uint64(k * 16 + 1)) & np.uint64((1 << (2 * nlv)) - 1)
        ).astype(np.int64)
        bits = bits + (chunk << 2)
        bits = LOOKUP_IJ8[bits]
        i = i + ((bits >> 10) << (k * 8))
        j = j + (((bits >> 2) & 255) << (k * 8))
        bits = bits & 3
    if not want_orientation:
        return f, i, j
    # Suffix parity fix-up (s2cell_id_v1.cc:369-380).
    swap = (lsb(cell_id) & np.uint64(0x1111111111111110)) != _U0
    orientation = np.where(swap, bits ^ sc.SWAP_MASK, bits)
    return f, i, j, orientation


# ---------------------------------------------------------------------------
# Field accessors / hierarchy (pure uint64 math)
# ---------------------------------------------------------------------------

def face(cell_id):
    """Top 3 bits (s2cell_id_v1.h)."""
    return (np.asarray(cell_id, dtype=np.uint64) >> np.uint64(POS_BITS)).astype(
        np.int64
    )


def lsb(cell_id):
    """Lowest set bit: id & (~id + 1)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return cell_id & (~cell_id + _U1)


def lsb_for_level(level):
    """1 << (2 * (30 - level)) (s2cell_id_v1.h:649-662 helper)."""
    level = np.asarray(level, dtype=np.int64)
    return _U1 << (2 * (MAX_LEVEL - level)).astype(np.uint64)


def level(cell_id):
    """30 - countr_zero(id)/2 (s2cell_id_v1.h:582-590).

    Trailing-zero count via exact log2 of the isolated lsb (powers of two
    convert exactly to float64).
    """
    l = lsb(cell_id).astype(np.float64)
    # id == 0 is undefined in the reference too; keep it finite (level 30).
    tz = np.log2(np.where(l == 0.0, 1.0, l)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def is_valid(cell_id):
    """face < 6 and the trailing-1 marker in an even bit pattern
    (s2cell_id_v1.h is_valid: face() < kNumFaces && (lsb() & 0x1555...5))."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return (face(cell_id) < NUM_FACES) & (
        (lsb(cell_id) & np.uint64(0x1555555555555555)) != _U0
    )


def is_leaf(cell_id):
    return (np.asarray(cell_id, dtype=np.uint64) & _U1) != _U0


def is_face(cell_id):
    """level == 0: lsb == 1 << 60."""
    return lsb(cell_id) == (_U1 << np.uint64(60))


def parent(cell_id, target_level):
    """Ancestor at target_level: (id & -new_lsb) | new_lsb
    (s2cell_id_v1.h:649-656)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    new_lsb = lsb_for_level(target_level)
    return (cell_id & (~new_lsb + _U1)) | new_lsb


def parent1(cell_id):
    """Immediate parent (s2cell_id_v1.h:658-662)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    new_lsb = lsb(cell_id) << _U2
    return (cell_id & (~new_lsb + _U1)) | new_lsb


def child(cell_id, position):
    """child(pos): new_lsb = lsb >> 2; id + (2*pos - 3) * new_lsb
    (s2cell_id_v1.h:664-671)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    position = np.asarray(position, dtype=np.int64)
    new_lsb = lsb(cell_id) >> _U2
    # 2*pos - 3 in {-3,-1,1,3}: do signed math in int64, exact for these ids.
    delta = (2 * position - 3).astype(np.int64) * new_lsb.astype(np.int64)
    return (cell_id.astype(np.int64) + delta).astype(np.uint64)


def child_begin(cell_id, target_level):
    """First descendant at target_level (s2cell_id_v1.h:673-688)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    old_lsb = lsb(cell_id)
    new_lsb = lsb_for_level(target_level)
    return cell_id - old_lsb + new_lsb


def child_end(cell_id, target_level):
    """One past the last descendant at target_level (s2cell_id_v1.h:690-701)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    old_lsb = lsb(cell_id)
    new_lsb = lsb_for_level(target_level)
    return cell_id + old_lsb + new_lsb


def range_min(cell_id):
    """First leaf contained: id - (lsb - 1) (s2cell_id_v1.h:629-631)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return cell_id - (lsb(cell_id) - _U1)


def range_max(cell_id):
    """Last leaf contained: id + (lsb - 1) (s2cell_id_v1.h:633-635)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return cell_id + (lsb(cell_id) - _U1)


def contains(a, b):
    """True iff cell a contains cell b (range test, s2cell_id_v1.h:637-641)."""
    return (range_min(a) <= np.asarray(b, dtype=np.uint64)) & (
        np.asarray(b, dtype=np.uint64) <= range_max(a)
    )


def intersects(a, b):
    """Range-overlap test (s2cell_id_v1.h:643-647)."""
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def next_cell(cell_id):
    """Hilbert successor at same level: id + (lsb << 1)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return cell_id + (lsb(cell_id) << _U1)


def prev_cell(cell_id):
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    return cell_id - (lsb(cell_id) << _U1)


def advance(cell_id, steps):
    """Move `steps` cells along the Hilbert curve at the same level, clamped
    to [Begin, End) of the level (s2cell_id_v1.cc:126-144)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    steps = np.asarray(steps, dtype=np.int64)
    step_shift = (2 * (MAX_LEVEL - level(cell_id)) + 1).astype(np.uint64)
    min_steps = -(cell_id >> step_shift).astype(np.int64)
    max_steps = ((WRAP_OFFSET + lsb(cell_id) - cell_id) >> step_shift).astype(np.int64)
    steps = np.clip(steps, min_steps, max_steps)
    return cell_id + (steps.astype(np.uint64) << step_shift)


def advance_wrap(cell_id, steps):
    """Move `steps` cells along the Hilbert curve at the same level, with
    MODULAR wrap across the curve's ends (s2cell_id_v1.cc AdvanceWrap,
    s2cell_id.cc:146-171): position arithmetic mod the number of cells at
    the level (6 * 4^level), unlike `advance` which clamps."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    steps = np.asarray(steps, dtype=np.int64)
    step_shift = (2 * (MAX_LEVEL - level(cell_id)) + 1).astype(np.uint64)
    n_cells = (WRAP_OFFSET >> step_shift).astype(np.int64)  # 6 * 4^level
    pos = (cell_id >> step_shift).astype(np.int64)
    new_pos = (pos + steps) % n_cells
    new_pos = np.where(new_pos < 0, new_pos + n_cells, new_pos)
    return (new_pos.astype(np.uint64) << step_shift) | (cell_id & ((np.uint64(1) << step_shift) - np.uint64(1)))


def distance_from_begin(cell_id):
    """Hilbert-curve position at the cell's level (s2cell_id_v1.cc:146-149)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    step_shift = (2 * (MAX_LEVEL - level(cell_id)) + 1).astype(np.uint64)
    return (cell_id >> step_shift).astype(np.int64)


def common_ancestor_level(a, b):
    """Level of the lowest common ancestor, -1 if on different faces
    (s2cell_id_v1.cc:198-212): msb of (a XOR b | lsbs) mapped to a level."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    bits = np.maximum(a ^ b, np.maximum(lsb(a), lsb(b)))
    # bit_width via exact log2 of the isolated msb:
    # extract msb by repeated or-shift (classic fill) then (x+1)>>1
    x = bits.copy()
    for s in (1, 2, 4, 8, 16, 32):
        x |= x >> np.uint64(s)
    msb = (x >> np.uint64(1)) + np.uint64(1)  # == 1 << (bit_width-1)
    bit_width = np.log2(msb.astype(np.float64)).astype(np.int64) + 1
    return np.maximum(61 - bit_width, -1) >> 1


def maximum_tile(cell_id, limit):
    """Largest cell with range_min() == this.range_min() not extending past
    `limit` (s2cell_id_v1.cc:175-196) — the Hilbert-range tiling primitive.
    Scalar loop per element (used on small range sets)."""
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    limit = np.asarray(limit, dtype=np.uint64)
    out = np.empty_like(cell_id)
    for n in range(cell_id.shape[0]):
        cid = np.uint64(cell_id[n])
        lim = np.uint64(limit[n]) if limit.shape else np.uint64(limit)
        start = range_min(np.array([cid]))[0]
        if start >= range_min(np.array([lim]))[0]:
            out[n] = lim
            continue
        if range_max(np.array([cid]))[0] >= lim:
            while range_max(np.array([cid]))[0] >= lim:
                cid = child(np.array([cid]), np.array([0]))[0]
            out[n] = cid
            continue
        while not bool(is_face(np.array([cid]))[0]):
            par = parent1(np.array([cid]))[0]
            if (
                range_min(np.array([par]))[0] != start
                or range_max(np.array([par]))[0] >= lim
            ):
                break
            cid = par
        out[n] = cid
    return out


def get_size_ij(level_arr):
    """Cell edge length in leaf-ij units: 1 << (30 - level)."""
    return np.int64(1) << (MAX_LEVEL - np.asarray(level_arr, dtype=np.int64))


# ---------------------------------------------------------------------------
# Cell centers (id -> point / latlng)
# ---------------------------------------------------------------------------

def get_center_siti(cell_id):
    """(face, si, ti) of the cell center, exact integers.

    Mirrors GetCenterSiTi (s2cell_id_v1.h:542-568): the decoded (i,j) is one
    of the two leaves nearest the center; delta in {0,1,2} corrects it.
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    f, i, j = to_face_ij_orientation(cell_id)
    leaf = is_leaf(cell_id)
    second_case = ((i ^ (cell_id.astype(np.int64) >> 2)) & 1) == 1
    delta = np.where(leaf, 1, np.where(second_case, 2, 0))
    return f, 2 * i + delta, 2 * j + delta


def to_point_raw(cell_id):
    """Cell center xyz, not normalized (s2cell_id_v1.cc:385-389)."""
    f, si, ti = get_center_siti(cell_id)
    return sc.face_siti_to_xyz(f, si, ti)


def to_point(cell_id):
    """Normalized cell center."""
    x, y, z = to_point_raw(cell_id)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def to_latlng_degrees(cell_id):
    """Cell center (lat, lng) in degrees (s2cell_id_v1.cc:391-393; uses the
    raw point — atan2 is scale-invariant)."""
    x, y, z = to_point_raw(cell_id)
    return sc.xyz_to_latlng_degrees(x, y, z)


# ---------------------------------------------------------------------------
# Tokens (hex, trailing zeros stripped; invalid -> "X")
# ---------------------------------------------------------------------------

def to_token(cell_id):
    """uint64 -> token strings (s2cell_id_v1.cc:222-239).

    String formatting is inherently per-element; used in tests/small paths.
    The Spark column path does this JVM-side (see functions.s2_token_expr).
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    flat = cell_id.ravel()
    out = np.empty(flat.shape, dtype=object)
    for idx in range(flat.shape[0]):
        v = int(flat[idx])
        out[idx] = "X" if v == 0 else format(v, "016x").rstrip("0")
    return out.reshape(cell_id.shape)


def from_token(tokens):
    """Token strings -> uint64 (s2cell_id_v1.cc:241-259). Invalid -> 0."""
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, tok in enumerate(tokens):
        if tok is None or not (0 < len(tok) <= 16):
            continue
        try:
            out[idx] = np.uint64(int(tok, 16) << (4 * (16 - len(tok))))
        except ValueError:
            out[idx] = 0
    return out


# ---------------------------------------------------------------------------
# Neighbors
# ---------------------------------------------------------------------------

def _from_face_ij_wrap(f, i, j):
    """FromFaceIJWrap (s2cell_id_v1.cc:471-502): project (i,j) just beyond
    the face edge through xyz and back onto the adjacent face."""
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)  # 1 + DBL_EPSILON exactly as C's kLimit
    u = np.clip(scale * ((i - MAX_SIZE // 2) * 2 + 1).astype(np.float64), -limit, limit)
    v = np.clip(scale * ((j - MAX_SIZE // 2) * 2 + 1).astype(np.float64), -limit, limit)
    x, y, z = sc.face_uv_to_xyz(f, u, v)
    nf, nu, nv = sc.xyz_to_face_uv(x, y, z)
    return from_face_ij(nf, sc.st_to_ij(0.5 * (nu + 1.0)), sc.st_to_ij(0.5 * (nv + 1.0)))


def _from_face_ij_same(f, i, j, same_face):
    """FromFaceIJSame (s2cell_id_v1.cc:504-510), vectorized over the mask."""
    same_face = np.asarray(same_face, dtype=bool)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    f = np.broadcast_to(np.asarray(f, dtype=np.int64), i.shape)
    out = np.empty(i.shape, dtype=np.uint64)
    if same_face.all():
        return from_face_ij(f, i, j)
    inside = same_face
    outside = ~same_face
    if inside.any():
        out[inside] = from_face_ij(f[inside], i[inside], j[inside])
    out[outside] = _from_face_ij_wrap(f[outside], i[outside], j[outside])
    return out


def get_edge_neighbors(cell_id):
    """4 edge-adjacent cells at the same level (s2cell_id_v1.cc:512-527).

    Returns an (n, 4) uint64 array: [down, right, up, left].
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lvl = level(cell_id)
    size = get_size_ij(lvl)
    f, i, j = to_face_ij_orientation(cell_id)
    down = parent(_from_face_ij_same(f, i, j - size, j - size >= 0), lvl)
    right = parent(_from_face_ij_same(f, i + size, j, i + size < MAX_SIZE), lvl)
    up = parent(_from_face_ij_same(f, i, j + size, j + size < MAX_SIZE), lvl)
    left = parent(_from_face_ij_same(f, i - size, j, i - size >= 0), lvl)
    return np.stack([down, right, up, left], axis=-1)


def append_vertex_neighbors(cell_id, target_level):
    """3-4 cells at target_level around the vertex of each cell closest to it
    (s2cell_id_v1.cc:529-568). target_level must be < level(cell).

    Returns (ids (n, 4) uint64, valid (n, 4) bool) — the 4th column is
    invalid when the vertex is one of the 8 cube corners (3 neighbors only).
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    f, i, j = to_face_ij_orientation(cell_id)
    halfsize = get_size_ij(np.asarray(target_level) + 1)
    size = halfsize << 1
    ihit = (i & halfsize) != 0
    ioffset = np.where(ihit, size, -size)
    isame = np.where(ihit, (i + size) < MAX_SIZE, (i - size) >= 0)
    jhit = (j & halfsize) != 0
    joffset = np.where(jhit, size, -size)
    jsame = np.where(jhit, (j + size) < MAX_SIZE, (j - size) >= 0)

    c0 = parent(cell_id, target_level)
    c1 = parent(_from_face_ij_same(f, i + ioffset, j, isame), target_level)
    c2 = parent(_from_face_ij_same(f, i, j + joffset, jsame), target_level)
    c3 = parent(
        _from_face_ij_same(f, i + ioffset, j + joffset, isame & jsame), target_level
    )
    ids = np.stack([c0, c1, c2, c3], axis=-1)
    valid = np.ones(ids.shape, dtype=bool)
    valid[:, 3] = isame | jsame  # cube-corner vertices have only 3 neighbors
    return ids, valid


def append_all_neighbors(cell_id, nbr_level):
    """All neighbors of each cell at nbr_level >= level
    (s2cell_id_v1.cc:570-611). Returns (ids (n, m) uint64, valid mask) where
    m = 2*(ring_len) ... laid out exactly in the reference's emit order; the
    mask is all-True (every emit is a real neighbor) — kept for symmetry.

    For same-level rings (nbr_level == level) this is the 8-neighbor ring
    used by the kNN expanding search.
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    lvl = level(cell_id)
    f, i, j = to_face_ij_orientation(cell_id)
    size = get_size_ij(lvl)
    i = i & (-size)
    j = j & (-size)
    nbr_size = get_size_ij(nbr_level)
    if not np.all(nbr_size <= size):
        raise ValueError("nbr_level must be >= cell level")
    if np.unique(size).size != 1 or np.unique(nbr_size).size != 1:
        # Mixed levels: fall back to per-group recursion (rare path).
        raise ValueError("append_all_neighbors requires uniform levels per call")
    size_s = int(size.flat[0]) if size.ndim else int(size)
    nbr_s = int(nbr_size.flat[0]) if nbr_size.ndim else int(nbr_size)

    cols = []
    k = -nbr_s
    while True:
        if k < 0:
            same_face = j + k >= 0
        elif k >= size_s:
            same_face = j + k < MAX_SIZE
        else:
            same_face = np.ones(i.shape, dtype=bool)
            cols.append(
                parent(_from_face_ij_same(f, i + k, j - nbr_s, j - size_s >= 0), nbr_level)
            )
            cols.append(
                parent(
                    _from_face_ij_same(f, i + k, j + size_s, j + size_s < MAX_SIZE),
                    nbr_level,
                )
            )
        cols.append(
            parent(
                _from_face_ij_same(f, i - nbr_s, j + k, same_face & (i - size_s >= 0)),
                nbr_level,
            )
        )
        cols.append(
            parent(
                _from_face_ij_same(f, i + size_s, j + k, same_face & (i + size_s < MAX_SIZE)),
                nbr_level,
            )
        )
        if k >= size_s:
            break
        k += nbr_s
    return np.stack(cols, axis=-1)


# the six face cells (level 0): a ring that covers the whole sphere
FACE_CELLS = np.array([(2 * f + 1) << 60 for f in range(NUM_FACES)], dtype=np.uint64)


def ring_cells(cell_id, levels):
    """Each cell's ancestor at its row's level plus that ancestor's 8
    same-level neighbors (append_all_neighbors), as an (n, 9) uint64
    array; rows are grouped by level, one neighbor walk per level.

    Level-0 rows hold the six face cells (faces 0-2 repeated to fill the
    row): the 3x3 ring of a face omits the antipodal face, the six faces
    cover the sphere. Cube-corner rings repeat a neighbor too, so callers
    dedupe.
    """
    cell_id = np.asarray(cell_id, dtype=np.uint64)
    levels = np.asarray(levels, dtype=np.int64)
    out = np.empty((len(cell_id), 9), dtype=np.uint64)
    for lvl in np.unique(levels):
        rows = levels == lvl
        if lvl == 0:
            out[rows] = np.resize(FACE_CELLS, 9)
            continue
        anc = parent(cell_id[rows], int(lvl))
        out[rows, 0] = anc
        out[rows, 1:] = append_all_neighbors(anc, int(lvl))
    return out
