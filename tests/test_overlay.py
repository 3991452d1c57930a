"""Degeneracy-tolerant boolean overlay (kernel/overlay.py — the S2Builder
+ snap-rounding role, VERDICT r2 next-#1). Every family is verified by
Monte-Carlo set-algebra: result membership (XOR over loops) must equal the
boolean of the input memberships at thousands of random points."""

import numpy as np
import pytest

from s2geo_spark.kernel import booleanop as bo
from s2geo_spark.kernel import loops, measures, overlay
from s2geo_spark.kernel import s2coords as sc

RNG = np.random.default_rng(41)
OPS = ("union", "intersection", "difference")


def _pts(n=3000, lat=(-30, 35), lon=(-20, 45)):
    la = RNG.uniform(*lat, n)
    lo = RNG.uniform(*lon, n)
    x, y, z = sc.latlng_degrees_to_xyz(la, lo)
    return np.stack([x, y, z], axis=1)


def _mem(loop_list, pts):
    m = np.zeros(len(pts), dtype=bool)
    for l in loop_list:
        m ^= loops.PreparedLoop(l).contains_points(pts)
    return m


def _wanted(inA, inB):
    return {
        "union": inA | inB,
        "intersection": inA & inB,
        "difference": inA & ~inB,
    }


def _check_pair(A, B):
    pts = _pts()
    want = _wanted(_mem([A], pts), _mem([B], pts))
    for op in OPS:
        res = overlay.overlay_boolean([A], [B], op)
        got = bo.region_contains_points(res, pts)
        assert (got == want[op]).all(), op


def _star_loop(rng, center):
    """Random star-shaped CCW loop around `center`: 4-10 vertices at
    increasing bearings (gaps under 180 degrees), each 3-40 degrees from
    the center, so every edge stays inside its own wedge and the loop is
    simple."""
    n = int(rng.integers(4, 11))
    u = np.cross(center, rng.normal(size=3))
    u /= np.linalg.norm(u)
    v = np.cross(center, u)
    ang = 2.0 * np.pi * (np.arange(n) + rng.uniform(0.0, 0.9, n)) / n
    r = np.radians(rng.uniform(3.0, 40.0, n))
    pts = np.cos(r)[:, None] * center + np.sin(r)[:, None] * (
        np.cos(ang)[:, None] * u + np.sin(ang)[:, None] * v
    )
    return pts / np.linalg.norm(pts, axis=1, keepdims=True)


class TestDegenerateLoopPairs:
    def test_shared_border_edge(self):
        # the admin-boundary case: bitwise-identical border on a meridian
        A = loops.parse_loop_text("10:-40, 10:-10, 35:-10, 35:-40")
        B = loops.parse_loop_text("10:-10, 10:20, 35:20, 35:-10")
        _check_pair(A, B)
        u = overlay.overlay_boolean([A], [B], "union")
        assert len(u) == 1
        assert abs(
            bo.region_area(u)
            - measures.loop_area(A)
            - measures.loop_area(B)
        ) < 1e-12

    def test_identical_loops(self):
        A = loops.parse_loop_text("10:-40, 10:-10, 35:-10, 35:-40")
        _check_pair(A, A.copy())
        assert overlay.overlay_boolean([A], [A.copy()], "difference") == []

    def test_shared_corner_only(self):
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = loops.parse_loop_text("10:10, 10:20, 20:20, 20:10")
        _check_pair(A, B)
        assert len(overlay.overlay_boolean([A], [B], "union")) == 2  # touching loops

    def test_t_junction_vertex_on_edge(self):
        # equator edges are exactly coplanar (z = 0), so the on-edge
        # incidence is exact
        A = loops.parse_loop_text("-10:0, -10:20, 0:20, 0:0")
        B = loops.parse_loop_text("0:10, 5:15, 10:10, 5:5")
        _check_pair(A, B)

    def test_partial_collinear_overlap(self):
        A = loops.parse_loop_text("-10:0, -10:20, 0:20, 0:0")
        B = loops.parse_loop_text("0:10, 0:30, 10:30, 10:10")
        _check_pair(A, B)
        assert len(overlay.overlay_boolean([A], [B], "union")) == 1

    def test_shared_vertex_with_proper_crossings(self):
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = loops.parse_loop_text("0:0, 5:15, 15:5, 5:-5")  # CCW diamond
        _check_pair(A, B)

    def test_big_input_loop(self):
        # B's interior is the BIG complement (CW-listed diamond): results
        # can legitimately exceed 2*pi and must not be complemented
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = loops.parse_loop_text("0:0, 5:-5, 15:5, 5:15")
        _check_pair(A, B)
        assert bo.region_area(overlay.overlay_boolean([A], [B], "union")) > 2 * np.pi

    def test_inner_tangent_edge(self):
        A = loops.parse_loop_text("0:0, 0:20, 20:20, 20:0")
        B = loops.parse_loop_text("0:5, 0:15, 10:15, 10:5")
        _check_pair(A, B)

    def test_full_sphere_unrepresentable(self):
        A = loops.parse_loop_text("10:-40, 10:-10, 35:-10, 35:-40")
        with pytest.raises(ValueError, match="full-sphere"):
            overlay.overlay_boolean([A], [A[::-1].copy()], "union")
        assert overlay.overlay_boolean([A], [A[::-1].copy()], "intersection") == []


class TestLargerThanHemisphere:
    """An input loop whose interior is more than a hemisphere (a reversed
    small loop) keeps its big side through every op: the result must not
    come back as its complement."""

    Q = loops.make_regular_loop(0.0, 1.5, 2.0, 4)
    T = loops.make_regular_loop(0.0, 0.0, 2.0, 3)[::-1]

    def test_quad_and_reversed_triangle(self):
        _check_pair(self.Q, self.T)

    def test_random_star_pairs(self):
        rng = np.random.default_rng(12)
        pts = rng.normal(size=(4000, 3))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        n_big = 0
        for _ in range(50):
            ca = rng.normal(size=3)
            ca /= np.linalg.norm(ca)
            cb = ca + rng.normal(scale=0.4, size=3)
            cb /= np.linalg.norm(cb)
            A, B = _star_loop(rng, ca), _star_loop(rng, cb)
            if rng.uniform() < 0.3:
                A = A[::-1].copy()
            if rng.uniform() < 0.3:
                B = B[::-1].copy()
            n_big += (measures.loop_area(A) > 2 * np.pi) + (
                measures.loop_area(B) > 2 * np.pi
            )
            want = _wanted(_mem([A], pts), _mem([B], pts))
            for op in OPS:
                try:
                    res = overlay.overlay_boolean([A], [B], op)
                except ValueError as e:
                    # the full sphere has no XOR-loop form
                    assert "full-sphere" in str(e) and op == "union"
                    assert want[op].all()
                    continue
                got = bo.region_contains_points(res, pts)
                assert (got == want[op]).all(), op
        assert n_big >= 10

    def test_boolean_join_union_area(self, spark):
        from s2geo_spark.operators import booleans

        def side(loop):
            return spark.createDataFrame(
                [(1, [loop.ravel().tolist()])],
                "polygon_id long, loops array<array<double>>",
            )

        pairs = spark.createDataFrame([(1, 1)], "a_id long, b_id long")
        rows = booleans.boolean_join(
            side(self.Q), side(self.T), "union", pairs=pairs
        ).collect()
        assert len(rows) == 1
        t_small = loops.make_regular_loop(0.0, 0.0, 2.0, 3)
        t_minus_q = bo.region_area(
            overlay.overlay_boolean([t_small], [self.Q], "difference")
        )
        assert 0.0 < t_minus_q < measures.loop_area(t_small)
        assert abs(rows[0]["area"] - (4.0 * np.pi - t_minus_q)) < 1e-9


class TestDegenerateRegions:
    def test_quad_sharing_hole_edge(self):
        shell = loops.parse_loop_text("0:0, 0:25, 25:25, 25:0")
        hole = loops.parse_loop_text("5:5, 5:15, 15:15, 15:5")
        Bq = loops.parse_loop_text("5:15, 5:20, 15:20, 15:15")
        pts = _pts()
        inA = _mem([shell, hole], pts)
        inB = _mem([Bq], pts)
        for op, want in (
            ("union", inA | inB),
            ("intersection", inA & inB),
            ("difference", inA & ~inB),
        ):
            res = overlay.overlay_boolean([shell, hole], [Bq], op)
            assert (bo.region_contains_points(res, pts) == want).all(), op

    def test_hole_filler(self):
        shell = loops.parse_loop_text("0:0, 0:25, 25:25, 25:0")
        hole = loops.parse_loop_text("5:5, 5:15, 15:15, 15:5")
        pts = _pts()
        inA = _mem([shell, hole], pts)
        u = overlay.overlay_boolean([shell, hole], [hole.copy()], "union")
        assert len(u) == 1  # hole exactly filled
        assert (bo.region_contains_points(u, pts) == (inA | _mem([hole], pts))).all()


class TestSnapRounding:
    def test_near_coincident_borders_become_exact(self):
        A = loops.parse_loop_text("10:0, 10:10, 20:10, 20:0")
        B0 = loops.parse_loop_text("10:10, 10:20, 20:20, 20:10")
        jit = B0 + RNG.normal(0, 1e-9, B0.shape)
        jit /= np.linalg.norm(jit, axis=1, keepdims=True)
        sa = overlay.snap_round_region([A], 14)
        sb = overlay.snap_round_region([jit], 14)
        # snapping made the two layers share border vertices bitwise
        a_keys = {v.tobytes() for l in sa for v in l}
        assert any(v.tobytes() in a_keys for l in sb for v in l)
        res = overlay.overlay_boolean(sa, sb, "union")
        # union area == sum of snapped areas (border coincides exactly)
        want = sum(measures.loop_area(l) for l in sa + sb)
        assert abs(bo.region_area(res) - want) < 1e-12

    def test_joint_sites_split_mid_border_vertex(self):
        # B carries an extra vertex mid-border; after joint snapping it
        # must be spliced into A's border edge (S2Builder edge splitting)
        A = loops.parse_loop_text("10:0, 10:10, 20:10, 20:0")
        B = loops.parse_loop_text("10:10, 10:20, 20:20, 20:10, 15:10")
        jit = B + RNG.normal(0, 1e-9, B.shape)
        jit /= np.linalg.norm(jit, axis=1, keepdims=True)
        res = overlay.region_boolean_snapped([A], [jit], "union", 14)
        assert len(res) == 1
        got = bo.region_area(res)
        want = measures.loop_area(A) + measures.loop_area(B)
        assert abs(got - want) < 1e-4  # snap displacement bound at lvl 14
        inter = overlay.region_boolean_snapped([A], [jit], "intersection", 14)
        assert inter == []

    def test_snap_idempotent_on_snapped(self):
        A = loops.parse_loop_text("10:0, 10:10, 20:10, 20:0")
        s1 = overlay.snap_round_region([A], 12)
        s2 = overlay.snap_round_region(s1, 12)
        assert all((a == b).all() for a, b in zip(s1, s2))


class TestIntersectionCascade:
    """GetIntersection precision cascade (edges.py, VERDICT r2 next-#6):
    every output within the reference's kIntersectionError of BOTH great
    circles, however parallel the edges — checked in exact arithmetic."""

    @staticmethod
    def _plane_dist_exact(x, u, v):
        from fractions import Fraction as Fr

        fu = [Fr(float(t)) for t in u]
        fv = [Fr(float(t)) for t in v]
        n = (
            fu[1] * fv[2] - fu[2] * fv[1],
            fu[2] * fv[0] - fu[0] * fv[2],
            fu[0] * fv[1] - fu[1] * fv[0],
        )
        fx = [Fr(float(t)) for t in x]
        dot = abs(n[0] * fx[0] + n[1] * fx[1] + n[2] * fx[2])
        nn = float(n[0] * n[0] + n[1] * n[1] + n[2] * n[2]) ** 0.5
        return float(dot) / max(nn, 1e-300)

    def test_near_parallel_within_reference_bound(self):
        from s2geo_spark.kernel import edges as ek

        p = np.array([0.3, -0.5, 0.81])
        p /= np.linalg.norm(p)
        t1 = np.cross(p, [0.0, 0.0, 1.0])
        t1 /= np.linalg.norm(t1)
        for theta in (1e-3, 1e-6, 1e-9, 1e-11, 1e-13, 1e-15):
            for L in (0.01, 0.5, 1e-5):
                t2 = np.cos(theta) * t1 + np.sin(theta) * np.cross(p, t1)
                a = np.cos(L) * p - np.sin(L) * t1
                b = np.cos(L) * p + np.sin(L) * t1
                c = np.cos(L) * p - np.sin(L) * t2
                d = np.cos(L) * p + np.sin(L) * t2
                x = ek.get_intersection(a, b, c, d)[0]
                err = max(
                    self._plane_dist_exact(x, a, b),
                    self._plane_dist_exact(x, c, d),
                )
                assert err < ek.INTERSECTION_ERROR, (theta, L, err)
                # and it is near the construction point, not antipodal
                assert x @ p > 0.99


class TestBufferExact:
    """Offset-curve buffer (polyline.buffer_loop_exact, VERDICT r2
    next-#9): round joins at turn vertices, small-circle edge offsets,
    trim at opposite-turn vertices; signed radius."""

    def test_cap_fixture_closed_form(self):
        # buffer of a circle-polygon = cap of the summed radius
        from s2geo_spark.kernel import polyline as pl

        rho = np.radians(3.0)
        loop = loops.make_regular_loop(20.0, 30.0, 3.0, 256)
        for r_deg, sgn in ((1.0, 1), (5.0, 1), (20.0, 1), (1.0, -1), (2.5, -1)):
            r = np.radians(r_deg)
            res = pl.buffer_loop_exact(loop, sgn * r, max_error=1e-7)
            a = sum(measures.loop_area(l) for l in res)
            want = 2 * np.pi * (1 - np.cos(rho + sgn * r))
            assert abs(a - want) / want < 1e-3, (r_deg, sgn)

    def test_concave_membership_oracle(self):
        from s2geo_spark.kernel import edges as ek
        from s2geo_spark.kernel import polyline as pl

        L = loops.parse_loop_text("0:0, 0:10, 4:10, 4:4, 10:4, 10:0")
        lp = loops.PreparedLoop(L)
        la = RNG.uniform(-5, 16, 15000)
        lo = RNG.uniform(-5, 16, 15000)
        x, y, z = sc.latlng_degrees_to_xyz(la, lo)
        pts = np.stack([x, y, z], axis=1)
        nxt = np.roll(L, -1, axis=0)
        dist = 2 * np.arcsin(
            np.sqrt(ek.point_edge_chord2(pts, L, nxt).min(axis=1)) / 2
        )
        inside = lp.contains_points(pts)
        for r_deg, sgn in ((0.3, 1), (1.5, 1), (3.0, 1), (0.3, -1), (1.0, -1)):
            r = np.radians(r_deg)
            res = pl.buffer_loop_exact(L, sgn * r, max_error=1e-7)
            got = np.zeros(len(pts), dtype=bool)
            for l in res:
                got ^= loops.PreparedLoop(l).contains_points(pts)
            want = (inside | (dist <= r)) if sgn > 0 else (inside & (dist >= r))
            bad = (got != want) & ~(np.abs(dist - r) < 3e-7)
            assert bad.sum() == 0, (r_deg, sgn, int(bad.sum()))

    def test_thin_surviving_shrink(self):
        # arms are 4 deg wide: shrinking by 1.8 leaves a thin valid L
        from s2geo_spark.kernel import polyline as pl

        L = loops.parse_loop_text("0:0, 0:10, 4:10, 4:4, 10:4, 10:0")
        res = pl.buffer_loop_exact(L, -np.radians(1.8), max_error=1e-7)
        assert len(res) == 1
        assert 0 < bo.region_area(res) < measures.loop_area(L)

    def test_inward_annihilation_empty(self):
        # max inscribed radius of the L is 2 deg: shrinking by 2.5 kills
        # the region — the winding fallback returns [] exactly
        from s2geo_spark.kernel import polyline as pl

        L = loops.parse_loop_text("0:0, 0:10, 4:10, 4:4, 10:4, 10:0")
        assert pl.buffer_loop_exact(L, -np.radians(2.5), max_error=1e-7) == []

    def test_winding_fallback_split_and_big_grow(self):
        # shrink splits the barbell into two exact components; a grow far
        # beyond the concave feature size resolves via the raw-curve
        # winding arrangement (no grid fallback, VERDICT r2 next-#9)
        from s2geo_spark.kernel import edges as ek
        from s2geo_spark.kernel import polyline as pl

        bar = loops.parse_loop_text(
            "0:0, 0:8, 3:8, 3:12, 0:12, 0:20, 8:20, 8:12, 5:12, 5:8, 8:8, 8:0"
        )
        lp = loops.PreparedLoop(bar)
        la = RNG.uniform(-8, 16, 15000)
        lo = RNG.uniform(-8, 28, 15000)
        x, y, z = sc.latlng_degrees_to_xyz(la, lo)
        pts = np.stack([x, y, z], axis=1)
        nxt = np.roll(bar, -1, axis=0)
        dist = 2 * np.arcsin(
            np.sqrt(ek.point_edge_chord2(pts, bar, nxt).min(axis=1)) / 2
        )
        inside = lp.contains_points(pts)
        r = np.radians(1.5)
        res = pl.buffer_loop_exact(bar, -r, max_error=1e-6)
        assert len(res) == 2  # the neck died, two lobes survive
        got = np.zeros(len(pts), dtype=bool)
        for l in res:
            got ^= loops.PreparedLoop(l).contains_points(pts)
        want = inside & (dist >= r)
        assert ((got != want) & ~(np.abs(dist - r) < 3e-6)).sum() == 0
        r = np.radians(6.0)
        res = pl.buffer_loop_exact(bar, r, max_error=1e-6)
        got = np.zeros(len(pts), dtype=bool)
        for l in res:
            got ^= loops.PreparedLoop(l).contains_points(pts)
        want = inside | (dist <= r)
        assert ((got != want) & ~(np.abs(dist - r) < 3e-6)).sum() == 0


class TestWindingOperation:
    """S2WindingOperation on ARBITRARY inputs (overlay.winding_operation):
    self-intersecting, doubly-wound, and mutually-crossing loops —
    VERDICT r2 missing-#5 (was simple-loop-only)."""

    def _member(self, res, pts):
        m = np.zeros(len(pts), dtype=bool)
        for l in res:
            m ^= loops.PreparedLoop(l).contains_points(pts)
        return m

    def test_two_crossing_loops_rules(self):
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = loops.parse_loop_text("5:5, 5:15, 15:15, 15:5")
        pts = _pts(4000, (-10, 25), (-10, 25))
        inA = loops.PreparedLoop(A).contains_points(pts)
        inB = loops.PreparedLoop(B).contains_points(pts)
        for rule, want in (
            ("positive", inA | inB),
            ("non_zero", inA | inB),
            ("odd", inA ^ inB),
        ):
            res = overlay.winding_operation([A, B], rule)
            assert (self._member(res, pts) == want).all(), rule

    def test_doubly_wound_loop(self):
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        pts = _pts(3000, (-10, 25), (-10, 25))
        inA = loops.PreparedLoop(A).contains_points(pts)
        res = overlay.winding_operation([A, A.copy()], "positive")
        assert (self._member(res, pts) == inA).all()
        assert overlay.winding_operation([A, A.copy()], "odd") == []

    def test_self_intersecting_bowtie(self):
        # independent oracle: decompose the bowtie at its crossing into
        # two simple triangles and sum their winding contributions
        from s2geo_spark.kernel import edges as ek

        bow = loops.parse_loop_text("0:0, 10:10, 0:10, 10:0")
        Av, Bv, Cv, Dv = bow
        X = ek.get_intersection(Av, Bv, Cv, Dv)[0]
        t1 = np.stack([X, Bv, Cv])
        t2 = np.stack([X, Dv, Av])
        pts = _pts(4000, (-10, 25), (-10, 25))
        W = bo.winding_number([t1], pts) + bo.winding_number([t2], pts)
        for rule, fn in (
            ("positive", lambda w: w > 0),
            ("negative", lambda w: w < 0),
            ("non_zero", lambda w: w != 0),
            ("odd", lambda w: (w & 1) == 1),
        ):
            res = overlay.winding_operation([bow], rule)
            assert (self._member(res, pts) == fn(W)).all(), rule

    def test_ref_point_contract(self):
        # declaring the ref point INSIDE with winding 1 shifts every
        # winding number: "positive" then selects the whole plane-side
        # the rule semantics dictate
        A = loops.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        inside = sc.latlng_degrees_to_xyz(np.array([5.0]), np.array([5.0]))
        q = np.array([inside[0][0], inside[1][0], inside[2][0]])
        res = overlay.winding_operation([A], "positive", ref_point=q,
                                        ref_winding=1)
        pts = _pts(2000, (-10, 25), (-10, 25))
        inA = loops.PreparedLoop(A).contains_points(pts)
        assert (self._member(res, pts) == inA).all()
