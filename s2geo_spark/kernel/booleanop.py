"""Shared helpers for spherical polygon booleans (S2BooleanOperation,
src/s2/s2boolean_operation.h:16-40): membership and area of a result
under XOR loop nesting, winding numbers of simple loops, and the
S2Builder snap-rounding subset (cell-center snapping, chain cleanup,
simplicity check).

The boolean itself has one engine, kernel/overlay.overlay_boolean: a
boundary-graph overlay that takes general-position and degenerate inputs
(shared vertices, vertex-on-edge contacts, shared edges) alike. Its
result loops are all CCW under XOR nesting (a loop at odd depth is a
hole), the convention every helper here reads.
"""

from __future__ import annotations

import numpy as np

from . import edges as ek
from . import loops as lps


def region_contains_points(loops_list, points: np.ndarray) -> np.ndarray:
    """Containment in a boolean result: XOR over the returned loops
    (S2Polygon nesting semantics — a CCW loop at odd depth is a hole)."""
    inside = np.zeros(np.asarray(points).shape[0], dtype=bool)
    for l in loops_list:
        inside ^= lps.PreparedLoop(l).contains_points(points)
    return inside


def _off_boundary_probe(l: np.ndarray, others) -> np.ndarray:
    """A point of/near loop l that is not ON any other loop's boundary:
    try vertices, then edge midpoints (degenerate overlay results can
    share vertices or whole edges across result loops, so the first
    vertex is not a safe depth probe)."""
    cands = [l[i] for i in range(len(l))]
    nxt = np.roll(l, -1, axis=0)
    for i in range(len(l)):
        mid = l[i] + nxt[i]
        cands.append(mid / np.linalg.norm(mid))
    for p in cands:
        near_boundary = False
        for o in others:
            u = o
            w = np.roll(o, -1, axis=0)
            det = np.cross(u, w) @ p
            if (np.abs(det) <= 1e-12).any():
                near_boundary = True
                break
        if not near_boundary:
            return p
    return l[0]  # everything touches: fall back (measure-zero regions)


def region_area(loops_list) -> float:
    """Area of a boolean result under XOR nesting: loops at even depth
    add, odd depth (holes) subtract. Depth = number of other loops
    containing a probe point of the loop (a probe off every OTHER loop's
    boundary — result loops may touch at vertices or share edges)."""
    from . import measures as m

    if not loops_list:
        return 0.0
    arrs = [np.asarray(l, dtype=np.float64) for l in loops_list]
    preps = [lps.PreparedLoop(l) for l in arrs]
    total = 0.0
    for idx, l in enumerate(arrs):
        others = [o for oi, o in enumerate(arrs) if oi != idx]
        probe = _off_boundary_probe(l, others) if others else l[0]
        depth = sum(
            1
            for other_idx, p in enumerate(preps)
            if other_idx != idx and bool(p.contains_points(probe[None, :])[0])
        )
        total += m.loop_area(l) * (1.0 if depth % 2 == 0 else -1.0)
    return total


# ---------------------------------------------------------------------------
# Winding-number operations (S2WindingOperation, s2winding_operation.h)
# ---------------------------------------------------------------------------

def winding_number(loops_list, points: np.ndarray,
                   orientations=None) -> np.ndarray:
    """Winding number of each point w.r.t. a collection of SIMPLE oriented
    loops (S2WindingOperation semantics for non-self-intersecting input;
    the reference additionally snap-rounds self-intersecting inputs via
    S2Builder — out of scope, documented).

    For a simple loop, the winding contribution is the indicator of its
    left-interior; a clockwise loop's left-interior is the big complement,
    so W(p) = sum of contains_i(p) minus the number of CW loops normalizes
    the sphere's "outside" to 0.

    Orientation is taken from `orientations` (+1 CCW / -1 CW per loop)
    when given; otherwise it is inferred from left-interior area > 2*pi —
    the S2 normalized-loop convention, which misreads a genuinely large
    CCW loop (interior area > 2*pi) as CW (ADVICE r2). Pass explicit
    orientations for such inputs."""
    from . import measures as m

    points = np.asarray(points, dtype=np.float64)
    if orientations is not None and len(orientations) != len(loops_list):
        raise ValueError("orientations must match loops_list length")
    w = np.zeros(points.shape[0], dtype=np.int64)
    n_cw = 0
    for idx, l in enumerate(loops_list):
        lp = lps.PreparedLoop(np.asarray(l, dtype=np.float64))
        if orientations is not None:
            if orientations[idx] not in (1, -1):
                raise ValueError("orientations entries must be +1 or -1")
            is_cw = orientations[idx] == -1
        else:
            is_cw = m.loop_area(l) > 2.0 * np.pi
        if is_cw:
            n_cw += 1
        w += lp.contains_points(points).astype(np.int64)
    return w - n_cw


def winding_contains_points(
    loops_list, points: np.ndarray, rule: str = "positive"
) -> np.ndarray:
    """Region membership by winding rule (S2WindingOperation WindingRule):
    positive (W > 0), negative (W < 0), non_zero (W != 0), odd (W & 1)."""
    w = winding_number(loops_list, points)
    if rule == "positive":
        return w > 0
    if rule == "negative":
        return w < 0
    if rule == "non_zero":
        return w != 0
    if rule == "odd":
        return (w & 1).astype(bool)
    raise ValueError(rule)


# ---------------------------------------------------------------------------
# Snap rounding + chain cleanup (S2Builder subset, s2builder.h semantics)
# ---------------------------------------------------------------------------

def snap_to_cell_centers(vertices: np.ndarray, level: int) -> np.ndarray:
    """S2CellIdSnapFunction (s2builderutil_snap_functions.h): snap each
    vertex to the center of its level-`level` cell. Idempotent (a cell
    center snaps to itself) with snap radius <= half the cell diagonal."""
    from . import cellid_v1 as v1
    from . import s2coords as sc

    v = np.asarray(vertices, dtype=np.float64)
    lat, lng = sc.xyz_to_latlng_degrees(v[:, 0], v[:, 1], v[:, 2])
    cells = v1.parent(v1.from_latlng(lat, lng), level)
    cx, cy, cz = v1.to_point(cells)
    return np.stack([cx, cy, cz], axis=1)


def clean_chain(vertices: np.ndarray) -> np.ndarray:
    """S2Builder edge-chain cleanup subset: drop consecutive duplicate
    vertices and fold degenerate spikes (a -> b -> a), iterating to a
    fixed point. Returns the cleaned CLOSED chain; fewer than 3 surviving
    vertices means the loop degenerated to nothing (empty array)."""
    v = [tuple(p) for p in np.asarray(vertices, dtype=np.float64)]
    changed = True
    while changed and len(v) >= 3:
        changed = False
        out = []
        n = len(v)
        for i in range(n):
            if v[i] == v[(i + 1) % n]:
                changed = True
                continue
            out.append(v[i])
        v = out
        n = len(v)
        if n >= 3:
            out = []
            skip = set()
            for i in range(n):
                if v[(i - 1) % n] == v[(i + 1) % n] and i not in skip:
                    # spike at i: remove i and one copy of the duplicate
                    skip.add(i)
                    skip.add((i + 1) % n)
                    changed = True
            v = [p for i, p in enumerate(v) if i not in skip]
    if len(v) < 3:
        return np.empty((0, 3))
    return np.array(v)


def loop_is_simple(vertices: np.ndarray) -> bool:
    """True when no two non-adjacent edges cross or touch (the validity
    S2Builder guarantees post-snap; S2Loop::IsValid edge-pair part)."""
    v = np.asarray(vertices, dtype=np.float64)
    n = v.shape[0]
    if n < 3:
        return False
    nxt = np.roll(v, -1, axis=0)
    for i in range(n):
        js = [j for j in range(i + 1, n) if j != (i + 1) % n and (j + 1) % n != i]
        if not js:
            continue
        sign = ek.crossing_signs_pairs(
            np.broadcast_to(v[i], (len(js), 3)),
            np.broadcast_to(nxt[i], (len(js), 3)),
            v[js],
            nxt[js],
        )
        if (sign >= 0).any():
            return False
    return True


def snap_round_loop(vertices: np.ndarray, level: int) -> np.ndarray:
    """S2Builder subset: snap a loop's vertices to level-`level` cell
    centers, clean the chain, and validate simplicity. Raises ValueError
    when snapping collapses the loop or introduces a self-intersection
    (the full S2Builder resolves those by splitting edges at snap sites;
    out of scope, documented in COVERAGE.md)."""
    snapped = clean_chain(snap_to_cell_centers(vertices, level))
    if snapped.shape[0] < 3:
        raise ValueError("loop degenerated under snapping (raise the level)")
    if not loop_is_simple(snapped):
        raise ValueError(
            "snapping introduced a self-intersection (raise the level)"
        )
    return snapped
