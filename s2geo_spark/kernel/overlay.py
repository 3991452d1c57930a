"""The polygon boolean engine: a boundary-graph overlay for spherical
polygon regions, the role the reference's S2Builder + S2BooleanOperation
pipeline plays (src/s2/s2builder.cc snap sites + edge splitting,
src/s2/s2boolean_operation.cc:16-40 layer assembly). It is the only
boolean in the kernel: general-position and degenerate inputs (shared
vertices, vertex-on-edge contacts, shared edges) take the same path —

  1. orient each region's loops as BOUNDARY loops (interior on the left:
     XOR-nested CCW input, odd-depth holes traversed reversed);
  2. collect split events on every edge: proper crossings with the other
     region's edges (exact predicate cascade + GetIntersection) and the
     other region's vertices lying exactly ON the edge (exact coplanarity
     via predicates.exact_sign(perturb=False), arc-cone membership);
  3. split both boundaries at all events; every vertex / event point is a
     graph node keyed by its exact float64 bytes. Bitwise-shared vertices,
     vertex-on-edge contacts, and collinear overlapping edge portions all
     decompose into segments whose endpoints match bitwise across sides;
  4. classify each directed segment: strictly inside / strictly outside
     the other region (midpoint probe — strict by construction, any
     vertex model agrees), or SHARED with an other-side segment (same or
     opposite direction, detected bitwise);
  5. select per op (interior-on-left boundary algebra):
       intersection: A-in-B + B-in-A + shared-same (one copy)
       union:        A-out-B + B-out-A + shared-same (one copy)
       difference:   A-out-B + reversed(B-in-A) + shared-opposite (A copy)
  6. stitch with a local angle rule: at a node with several unused
     outgoing segments, continue with the first one encountered rotating
     CLOCKWISE from the reversed arrival direction — the interior wedge
     (left of travel) stays connected, so tangential contacts produce
     touching simple loops instead of figure-eights.

Degeneracies are resolved EXACTLY when they are exact (bitwise-equal
shared vertices, vertices exactly on the other boundary — the shapes real
shared-border layers have after snapping). Near-coincident-but-unequal
geometry is general position to this module (the exact predicates settle
each crossing); use snap_round_region() first to coarsen such inputs onto
a shared grid, which is the reference's snap-rounding story
(s2builderutil_snap_functions.h S2CellIdSnapFunction).

Output convention: ALL result loops CCW, XOR nesting (holes at odd
depth) — what booleanop.region_contains_points and region_area read.
"""

from __future__ import annotations

import numpy as np

from . import booleanop as bo
from . import edges as ek
from . import loops as lps
from . import predicates as pred

_TRIAGE_EPS = 32 * 2.220446049250313e-16


# ---------------------------------------------------------------------------
# exact incidence tests
# ---------------------------------------------------------------------------

def _on_edge_interior(p, u, v) -> bool:
    """p lies strictly inside the geodesic arc (u, v): exact coplanarity,
    then the arc-cone test (for coplanar p = alpha*u + beta*v the two
    float dot products reduce to alpha*|uxv|^2 and beta*|uxv|^2 exactly up
    to rounding of well-conditioned products)."""
    if (p == u).all() or (p == v).all():
        return False
    if pred.exact_sign(tuple(u), tuple(v), tuple(p), perturb=False) != 0:
        return False
    n = np.cross(u, v)
    return float(np.dot(np.cross(u, p), n)) > 0.0 and (
        float(np.dot(np.cross(p, v), n)) > 0.0
    )


# ---------------------------------------------------------------------------
# event collection + splitting
# ---------------------------------------------------------------------------

def _edge_arrays(loops_list):
    """[(li, (m,3) verts)] -> stacked (E,3) u, v plus (E,2) (li, ei)."""
    us, vs, ids = [], [], []
    for li, l in enumerate(loops_list):
        l = np.asarray(l, dtype=np.float64)
        us.append(l)
        vs.append(np.roll(l, -1, axis=0))
        ids.append(np.stack([np.full(len(l), li), np.arange(len(l))], axis=1))
    return np.concatenate(us), np.concatenate(vs), np.concatenate(ids)


def _edge_t(u, x) -> float:
    """Sort parameter of point x along the edge starting at u (arc angle
    from the start; monotone along the edge)."""
    return float(np.arctan2(np.linalg.norm(np.cross(u, x)), float(u @ x)))


def _collect_events(a_loops, b_loops):
    """splits[(side, li, ei)] = list of (t, point) interior split events."""
    au, av_, aid = _edge_arrays(a_loops)
    bu, bv_, bid = _edge_arrays(b_loops)
    na, nb = len(au), len(bu)
    splits: dict = {}

    def add(side, li, ei, u, x):
        splits.setdefault((side, li, ei), []).append((_edge_t(u, x), x))

    # pair-wise degenerate incidences first (a degenerate pair never also
    # crosses properly: two distinct intersections of sub-pi arcs would
    # make them collinear, which the vertex events already decompose)
    a1 = np.repeat(au, nb, axis=0)
    a2 = np.repeat(av_, nb, axis=0)
    b1 = np.tile(bu, (na, 1))
    b2 = np.tile(bv_, (na, 1))
    shared = (
        (a1 == b1).all(1) | (a1 == b2).all(1)
        | (a2 == b1).all(1) | (a2 == b2).all(1)
    )
    degen = shared.copy()

    def prev_edge(ids, g):
        """Global index of the edge ENDING at edge g's start vertex."""
        li, ei = int(ids[g, 0]), int(ids[g, 1])
        loop_len = int((ids[:, 0] == li).sum())
        return g - 1 if ei > 0 else g + loop_len - 1

    # vertex-on-edge events (exact). Each incidence makes BOTH edges at
    # the vertex degenerate with the split edge — exclude all of them from
    # the proper-crossing scan (symbolic perturbation would otherwise
    # manufacture a crossing at a point that duplicates the vertex node).
    for (pu, pv, pids, qu, qids, transpose) in (
        (au, av_, aid, bu, bid, False),  # B vertices on A edges
        (bu, bv_, bid, au, aid, True),   # A vertices on B edges
    ):
        n = np.cross(pu, pv)
        det = qu @ n.T  # (Q_edges, P_edges): det(pu, pv, q_start)
        qi, ei = np.nonzero(np.abs(det) <= _TRIAGE_EPS)
        for q, e in zip(qi, ei):
            if _on_edge_interior(qu[q], pu[e], pv[e]):
                li, eidx = int(pids[e, 0]), int(pids[e, 1])
                add(0 if not transpose else 1, li, eidx, pu[e], qu[q])
                for qq in (int(q), prev_edge(qids, int(q))):
                    row = e * nb + qq if not transpose else qq * nb + e
                    degen[row] = True

    sign = ek.crossing_signs_pairs(a1, a2, b1, b2)
    hits = np.nonzero((sign == 1) & ~degen)[0]
    if len(hits):
        pts = ek.get_intersection(a1[hits], a2[hits], b1[hits], b2[hits])
        for row, x in zip(hits, pts):
            ea, eb = divmod(int(row), nb)
            add(0, int(aid[ea, 0]), int(aid[ea, 1]), au[ea], x)
            add(1, int(bid[eb, 0]), int(bid[eb, 1]), bu[eb], x)
    return splits


def _split_segments(loops_list, splits, side):
    """Boundary loops -> directed segments [(start_key, end_key, pts)]
    split at every event; every vertex is a node."""
    segs = []
    for li, l in enumerate(loops_list):
        l = np.asarray(l, dtype=np.float64)
        n = len(l)
        for ei in range(n):
            u = l[ei]
            v = l[(ei + 1) % n]
            ev = sorted(
                splits.get((side, li, ei), ()), key=lambda e: e[0]
            )
            chain = [u] + [x for _, x in ev] + [v]
            for i in range(len(chain) - 1):
                p, q = chain[i], chain[i + 1]
                if (p == q).all():
                    continue  # event exactly at an endpoint
                segs.append((p.tobytes(), q.tobytes(), np.stack([p, q])))
    return segs


# ---------------------------------------------------------------------------
# stitching (angle rule)
# ---------------------------------------------------------------------------

def _tangent(v, p):
    """Unit tangent at v toward p (projection of p onto v's plane)."""
    t = p - float(p @ v) * v
    nrm = np.linalg.norm(t)
    return t / max(nrm, 1e-300)


def _stitch_general(segments):
    """Assemble closed loops from directed segments. At a node with more
    than one unused outgoing segment, continue with the first one rotating
    clockwise from the reversed arrival direction (keeps the left-side
    interior wedge connected; tangential contacts become touching loops,
    never figure-eights)."""
    outgoing: dict = {}
    for i, s in enumerate(segments):
        outgoing.setdefault(s[0], []).append(i)
    used = [False] * len(segments)
    loops_out = []
    for i0 in range(len(segments)):
        if used[i0]:
            continue
        pts = []
        cur = i0
        start_key = segments[i0][0]
        while True:
            used[cur] = True
            seg_pts = segments[cur][2]
            pts.append(seg_pts[:-1])
            end_key = segments[cur][1]
            if end_key == start_key:
                break
            cands = [j for j in outgoing.get(end_key, ()) if not used[j]]
            if not cands:
                raise ValueError("open chain: overlay graph is inconsistent")
            if len(cands) == 1:
                cur = cands[0]
                continue
            v = seg_pts[-1]
            back = _tangent(v, seg_pts[-2])
            e2 = np.cross(v, back)
            best, best_cw = None, np.inf
            for j in cands:
                out_t = _tangent(v, segments[j][2][1])
                ang = float(np.arctan2(out_t @ e2, out_t @ back))
                cw = (-ang) % (2.0 * np.pi)
                if cw == 0.0:
                    cw = 2.0 * np.pi  # straight back: last resort
                if cw < best_cw:
                    best, best_cw = j, cw
            cur = best
        loops_out.append(np.concatenate(pts, axis=0))
    return loops_out


# ---------------------------------------------------------------------------
# the overlay
# ---------------------------------------------------------------------------

def _boundary_oriented(loops_list):
    """XOR-nested CCW loops -> (boundary loops interior-on-left, preps of
    the ORIGINAL loops for region membership)."""
    arrs = [np.asarray(l, dtype=np.float64) for l in loops_list]
    preps = [lps.PreparedLoop(l) for l in arrs]
    out = []
    for i, l in enumerate(arrs):
        depth = sum(
            1
            for j, p in enumerate(preps)
            if j != i and bool(p._contains_points_semi_open(l[:1])[0])
        )
        out.append(l[::-1].copy() if depth % 2 == 1 else l)
    return out, preps


def _in_region(preps, pts):
    inside = np.zeros(np.asarray(pts).shape[0], dtype=bool)
    for lp in preps:
        inside ^= lp._contains_points_semi_open(pts)
    return inside


def overlay_boolean(a_loops, b_loops, op: str):
    """Boolean combination of two XOR-nested multi-loop regions with full
    degeneracy support (shared vertices / edges, vertex-on-edge). Returns
    CCW result loops under XOR nesting; when the loops' small forms XOR
    to the complement of the result, one loop keeps its big form."""
    if op not in ("intersection", "union", "difference"):
        raise ValueError(op)
    a_bnd, lp_a = _boundary_oriented(a_loops)
    b_bnd, lp_b = _boundary_oriented(b_loops)
    splits = _collect_events(a_bnd, b_bnd)
    segs_a = _split_segments(a_bnd, splits, side=0)
    segs_b = _split_segments(b_bnd, splits, side=1)

    b_dirs = {(s, e) for s, e, _ in segs_b}
    kept = []
    probe_a, idx_a = [], []
    for i, (s, e, pts) in enumerate(segs_a):
        if (s, e) in b_dirs:  # shared, same direction
            if op in ("intersection", "union"):
                kept.append((s, e, pts))
        elif (e, s) in b_dirs:  # shared, opposite direction
            if op == "difference":
                kept.append((s, e, pts))
        else:
            m = pts[0] + pts[1]
            probe_a.append(m / np.linalg.norm(m))
            idx_a.append(i)
    if probe_a:
        ins = _in_region(lp_b, np.stack(probe_a))
        for i, inside in zip(idx_a, ins):
            s, e, pts = segs_a[i]
            if op == "intersection" and inside:
                kept.append((s, e, pts))
            elif op in ("union", "difference") and not inside:
                kept.append((s, e, pts))

    a_dirs = {(s, e) for s, e, _ in segs_a}
    probe_b, idx_b = [], []
    for i, (s, e, pts) in enumerate(segs_b):
        if (s, e) in a_dirs or (e, s) in a_dirs:
            continue  # shared segments already handled from the A side
        m = pts[0] + pts[1]
        probe_b.append(m / np.linalg.norm(m))
        idx_b.append(i)
    if probe_b:
        ins = _in_region(lp_a, np.stack(probe_b))
        for i, inside in zip(idx_b, ins):
            s, e, pts = segs_b[i]
            if op == "intersection" and inside:
                kept.append((s, e, pts))
            elif op == "union" and not inside:
                kept.append((s, e, pts))
            elif op == "difference" and inside:
                kept.append((e, s, pts[::-1].copy()))  # reversed

    def op_membership(pts):
        in_a = _in_region(lp_a, pts)
        in_b = _in_region(lp_b, pts)
        if op == "intersection":
            return in_a & in_b
        if op == "union":
            return in_a | in_b
        return in_a & ~in_b

    result = _stitch_general(kept) if kept else []
    # drop degenerate slivers, normalize every loop to its small-CCW form
    from . import measures as m

    out = []
    for l in result:
        if len(l) < 3:
            continue
        area = m.loop_area(l)
        if area > 2.0 * np.pi:
            l = l[::-1].copy()
            area = 4.0 * np.pi - area
        if area <= 0.0:
            continue
        out.append(l)

    # Global parity fix: small-CCW loops XOR to R or to its complement
    # (both memberships flip across every boundary arc and nowhere else).
    # Decide with a reference point strictly off every boundary, evaluated
    # through the INPUT op semantics; a mismatch is repaired by storing one
    # loop in its big (reversed) form, which complements the XOR pointwise.
    q = _reference_point(
        [np.asarray(l) for l in a_loops]
        + [np.asarray(l) for l in b_loops]
        + out
    )
    want = bool(op_membership(q[None, :])[0])
    got = False
    for l in out:
        got ^= bool(lps.PreparedLoop(l)._contains_points_semi_open(q[None, :])[0])
    if got != want:
        if not out:
            raise ValueError(
                "full-sphere boolean result is not representable in the "
                "XOR loop convention (S2Polygon is_full analog)"
            )
        out[0] = out[0][::-1].copy()
    return out


def _reference_point(all_loops) -> np.ndarray:
    """A deterministic point strictly off every loop's boundary (generous
    float margin — candidates are quasi-random, boundaries are measure
    zero, so the first few candidates succeed)."""
    golden = 0.6180339887498949
    for k in range(1, 64):
        zc = 2.0 * ((k * golden) % 1.0) - 1.0
        th = 2.0 * np.pi * ((k * golden * golden) % 1.0)
        r = np.sqrt(max(0.0, 1.0 - zc * zc))
        p = np.array([r * np.cos(th), r * np.sin(th), zc])
        ok = True
        for l in all_loops:
            u = l
            w = np.roll(l, -1, axis=0)
            if (np.abs(np.cross(u, w) @ p) <= 1e-9).any():
                ok = False
                break
        if ok:
            return p
    raise ValueError("could not find an off-boundary reference point")


# ---------------------------------------------------------------------------
# snap rounding front-end (S2Builder subset: sites + edge splitting)
# ---------------------------------------------------------------------------

def snap_round_region(loops_list, level: int, extra_sites=None):
    """Snap a region's vertices to level-`level` cell centers, then splice
    every site that an edge passes within the snap radius of INTO that
    edge (S2Builder's edge-splitting-at-snap-sites invariant,
    src/s2/s2builder.cc AddEdge/SnapEdge). Near-coincident borders across
    two layers snapped at the same level become bitwise-identical chains,
    which overlay_boolean then resolves exactly. Returns cleaned loops
    (degenerated loops dropped).

    extra_sites: additional (n,3) snap sites to splice (pass the OTHER
    layer's snapped vertices so a cross-layer boolean shares one site set,
    as S2Builder does per operation — see region_boolean_snapped)."""
    from . import metrics

    snap_radius2 = (
        2.0 * np.sin(0.25 * metrics.metric_value(metrics.MAX_DIAG_DERIV, level))
    ) ** 2
    snapped = []
    for l in loops_list:
        s = bo.clean_chain(bo.snap_to_cell_centers(np.asarray(l), level))
        if len(s):
            snapped.append(s)
    sites = {}
    for l in snapped:
        for v in l:
            sites[v.tobytes()] = v
    if extra_sites is not None:
        for v in np.asarray(extra_sites, dtype=np.float64).reshape(-1, 3):
            sites[v.tobytes()] = v
    site_arr = np.stack(list(sites.values())) if sites else np.empty((0, 3))
    out = []
    for l in snapped:
        n = len(l)
        nxt = np.roll(l, -1, axis=0)
        all_d2 = ek.point_edge_chord2(site_arr, l, nxt)  # (sites, edges)
        chain = []
        for ei in range(n):
            u, v = l[ei], nxt[ei]
            chain.append(u)
            near = np.nonzero(all_d2[:, ei] <= snap_radius2)[0]
            ins = []
            for si in near:
                x = site_arr[si]
                if (x == u).all() or (x == v).all():
                    continue
                # project candidate site onto the edge's great circle so
                # the spliced vertex stays on (numerically near) the edge?
                # No: S2Builder moves the EDGE to pass through the site —
                # splice the site itself.
                t = _edge_t(u, x)
                if 0.0 < t < _edge_t(u, v):
                    ins.append((t, x))
            for _, x in sorted(ins, key=lambda e: e[0]):
                chain.append(x)
        cleaned = bo.clean_chain(np.stack(chain)) if len(chain) >= 3 else []
        if len(cleaned) >= 3:
            out.append(cleaned)
    return out


def region_boolean_snapped(a_loops, b_loops, op: str, level: int):
    """Boolean of two regions after JOINT snap rounding at `level`: both
    layers' vertices snap to cell centers, the union of the two snapped
    vertex sets is the shared site set, and each layer's edges are split
    at every site within the snap radius — so near-coincident borders
    become bitwise-identical chains before the exact overlay runs. This is
    the reference's per-operation S2Builder pipeline
    (s2boolean_operation.cc snap_function_ + s2builder.cc edge snapping)."""
    sa0 = [bo.clean_chain(bo.snap_to_cell_centers(np.asarray(l), level))
           for l in a_loops]
    sb0 = [bo.clean_chain(bo.snap_to_cell_centers(np.asarray(l), level))
           for l in b_loops]
    sa0 = [l for l in sa0 if len(l)]
    sb0 = [l for l in sb0 if len(l)]
    joint = np.concatenate([np.concatenate(sa0)] if sa0 else [np.empty((0, 3))])
    joint_b = np.concatenate([np.concatenate(sb0)] if sb0 else [np.empty((0, 3))])
    sa = snap_round_region(a_loops, level, extra_sites=joint_b)
    sb = snap_round_region(b_loops, level, extra_sites=joint)
    if not sa and not sb:
        return []
    if not sa:
        return sb if op == "union" else []
    if not sb:
        return sa if op in ("union", "difference") else []
    return overlay_boolean(sa, sb, op)


# ---------------------------------------------------------------------------
# Winding operation on self-intersecting inputs (S2WindingOperation,
# s2winding_operation.cc:560 — the snap-round-then-wind pipeline made an
# explicit arrangement + signed ray count)
# ---------------------------------------------------------------------------

def _self_split_segments(loops_list):
    """Split EVERY edge of one oriented loop collection at all proper
    crossings and exact vertex-on-edge incidences (self- and cross-loop),
    then merge coincident segments into canonical directed segments with a
    net multiplicity. Returns [(start_key, end_key, pts(2,3), mult)] with
    mult != 0; crossing the segment right->left raises the winding number
    by mult."""
    arrs = [np.asarray(l, dtype=np.float64) for l in loops_list]
    splits2 = _collect_events(arrs, arrs)
    merged: dict = {}
    for (side, li, ei), evs in splits2.items():
        merged.setdefault((li, ei), []).extend(evs)
    splits = {(0, li, ei): evs for (li, ei), evs in merged.items()}
    segs = _split_segments(arrs, splits, side=0)
    canon: dict = {}
    for s, e, pts in segs:
        if (s, e) in canon:
            canon[(s, e)][1] += 1
        elif (e, s) in canon:
            canon[(e, s)][1] -= 1
        else:
            canon[(s, e)] = [pts, 1]
    return [
        (s, e, pts, mult)
        for (s, e), (pts, mult) in canon.items()
        if mult != 0
    ]


def _winding_at(points, segments, ref_point, ref_winding):
    """Winding number at each (off-boundary) point: signed crossings of
    the geodesic ref_point -> p with every segment. Vectorized triage via
    crossing_signs_pairs; exact vertex-crossing semantics on the sign-0
    residue (the path grazing a segment endpoint)."""
    pts = np.atleast_2d(np.asarray(points, dtype=np.float64))
    if not segments:
        return np.full(len(pts), ref_winding, dtype=np.int64)
    u = np.stack([seg[2][0] for seg in segments])
    v = np.stack([seg[2][1] for seg in segments])
    mult = np.array([seg[3] for seg in segments], dtype=np.int64)
    out = np.empty(len(pts), dtype=np.int64)
    q0 = np.asarray(ref_point, dtype=np.float64)
    for i, p in enumerate(pts):
        sgn = ek.crossing_signs_pairs(
            np.broadcast_to(q0, u.shape), np.broadcast_to(p, u.shape), u, v
        )
        w = ref_winding
        for j in np.nonzero(sgn >= 0)[0]:
            if sgn[j] == 0:
                if not pred.vertex_crossing(
                    tuple(q0), tuple(p), tuple(u[j]), tuple(v[j])
                ):
                    continue
            # direction: crossing right->left of (u,v) raises W by mult
            side_p = pred.sign(tuple(u[j]), tuple(v[j]), tuple(p))
            w += int(mult[j]) * (1 if side_p > 0 else -1)
        out[i] = w
    return out


_WINDING_RULES = {
    "positive": lambda w: w > 0,
    "negative": lambda w: w < 0,
    "non_zero": lambda w: w != 0,
    "odd": lambda w: (w & 1) == 1,
    # complement of non_zero — used by the buffer fallback (the shrunk
    # region is the zero-winding side of the reversed raw offset curve)
    "zero": lambda w: w == 0,
}


def winding_operation(loops_list, rule: str, ref_point=None,
                      ref_winding: int = 0):
    """Region selected by a winding rule over ARBITRARY oriented loops —
    self-intersecting, doubly-wound, mutually crossing (S2WindingOperation
    with its reference-point contract). Returns CCW XOR-nested loops.

    ref_point (default: an auto-selected point off every boundary) must
    carry the known winding number ref_winding — exactly the reference's
    API (s2winding_operation.h ref_p/ref_winding)."""
    if rule not in _WINDING_RULES:
        raise ValueError(rule)
    R = _WINDING_RULES[rule]
    arrs = [np.asarray(l, dtype=np.float64) for l in loops_list]
    if ref_point is None:
        ref_point = _reference_point(arrs)
    q0 = np.asarray(ref_point, dtype=np.float64)
    segments = _self_split_segments(arrs)
    if segments:
        mids = np.stack([seg[2][0] + seg[2][1] for seg in segments])
        mids /= np.linalg.norm(mids, axis=1, keepdims=True)
        w_mid = _winding_at(mids, segments, q0, ref_winding)
    kept = []
    for idx, (s, e, pts, mult) in enumerate(segments or []):
        side_m = pred.sign(tuple(pts[0]), tuple(pts[1]), tuple(mids[idx]))
        w_m = int(w_mid[idx])
        w_left = w_m if side_m > 0 else w_m + mult
        w_right = w_left - mult
        in_l, in_r = R(w_left), R(w_right)
        if in_l == in_r:
            continue  # interior or exterior segment, not a boundary
        if in_l:
            kept.append((s, e, pts))
        else:
            kept.append((e, s, pts[::-1].copy()))
    result = _stitch_general(kept) if kept else []
    from . import measures as m

    out = []
    for l in result:
        if len(l) < 3:
            continue
        area = m.loop_area(l)
        if area > 2.0 * np.pi:
            l = l[::-1].copy()
            area = 4.0 * np.pi - area
        if area <= 0.0:
            continue
        out.append(l)
    # global parity against the reference point (same trick as the
    # boolean overlay): XOR of the small-CCW loops is R's region or its
    # complement; fix with the known winding at q0
    want = bool(R(ref_winding))
    got = False
    for l in out:
        got ^= bool(lps.PreparedLoop(l)._contains_points_semi_open(q0[None, :])[0])
    if got != want:
        if not out:
            raise ValueError(
                "full-sphere winding result is not representable in the "
                "XOR loop convention"
            )
        out[0] = out[0][::-1].copy()
    return out
