"""§2.5 polyline constructive ops: simplify / tessellate / DTW align /
grid-quantized buffer — tolerance and consistency oracles."""

import math

import numpy as np

from s2geo_spark.kernel import (
    booleanop as bo,
    edges as ek,
    loops as lps,
    overlay,
    polyline as pl,
    s2coords as sc,
)

RNG = np.random.default_rng(21)


def _zigzag(n=41):
    t = np.linspace(0, 20, n)
    lat = 0.02 * (-1) ** np.arange(n)
    x, y, z = sc.latlng_degrees_to_xyz(lat, t)
    return np.stack([x, y, z], 1)


class TestSimplify:
    def test_collapses_within_tolerance(self):
        v = _zigzag()
        simp = pl.simplify_polyline(v, math.radians(0.1))
        assert len(simp) <= 4
        d2 = ek.point_polyline_chord2(v, simp)
        tol_chord = 2 * math.sin(math.radians(0.1) / 2)
        assert (np.sqrt(d2) <= tol_chord + 1e-12).all()

    def test_tight_tolerance_keeps_all(self):
        v = _zigzag()
        assert len(pl.simplify_polyline(v, math.radians(0.001))) == len(v)

    def test_endpoints_preserved(self):
        v = _zigzag()
        simp = pl.simplify_polyline(v, math.radians(1.0))
        assert (simp[0] == v[0]).all() and (simp[-1] == v[-1]).all()


class TestTessellate:
    def test_high_latitude_geodesic_subdivides(self):
        a = np.array(sc.latlng_degrees_to_xyz(np.array([60.0]), np.array([0.0]))).ravel()
        b = np.array(sc.latlng_degrees_to_xyz(np.array([60.0]), np.array([90.0]))).ravel()
        fine = pl.tessellate_edge(a, b, math.radians(0.1))
        coarse = pl.tessellate_edge(a, b, math.radians(10.0))
        assert len(fine) > 8 and len(coarse) == 2
        # refining the tolerance never coarsens the chain
        finer = pl.tessellate_edge(a, b, math.radians(0.01))
        assert len(finer) >= len(fine)
        # all tessellation vertices lie on the geodesic's great circle
        n = np.cross(a, b)
        n /= np.linalg.norm(n)
        assert (np.abs(fine @ n) < 1e-12).all()


class TestDtw:
    def test_identity_is_diagonal(self):
        v = _zigzag(10)
        cost, path = pl.dtw_alignment(v, v)
        assert cost == 0.0 and path == [(i, i) for i in range(10)]

    def test_monotone_and_anchored(self):
        a = _zigzag(12)
        b = _zigzag(8)
        cost, path = pl.dtw_alignment(a, b)
        assert cost >= 0 and path[0] == (0, 0) and path[-1] == (11, 7)
        di = np.diff([p[0] for p in path])
        dj = np.diff([p[1] for p in path])
        assert (di >= 0).all() and (dj >= 0).all()
        assert ((di + dj) >= 1).all()


def _rand_line(n, seed_off=0):
    rng = np.random.default_rng(100 + seed_off)
    v = rng.normal(size=(n, 3))
    v[:, 2] += 5
    return v / np.linalg.norm(v, axis=1, keepdims=True)


class TestApproxDtw:
    """FastDTW path (GetApproxVertexAlignment,
    src/s2/s2polyline_alignment.h:139-156) — r4, VERDICT r3 next-#7."""

    def test_full_window_equals_exact(self):
        for na, nb in [(5, 7), (12, 9), (3, 3), (20, 20)]:
            a, b = _rand_line(na), _rand_line(nb, 1)
            strides = np.array([[0, nb]] * na)
            ce, pe = pl.dtw_alignment(a, b, cost_quantum=1e-9)
            cw, pw = pl._windowed_dtw(a, b, strides, 1e-9)
            assert ce == cw and pe == pw

    def test_small_inputs_route_to_exact(self):
        # reference switchover: below 32 vertices approx IS exact
        a, b = _rand_line(20), _rand_line(25, 1)
        ce, pe = pl.dtw_alignment(a, b)
        ca, pa = pl.approx_dtw_alignment(a, b)
        assert ce == ca and pe == pa

    def test_large_radius_equals_exact(self):
        a, b = _rand_line(100), _rand_line(90, 1)
        ce, _ = pl.dtw_alignment(a, b)
        ca, _ = pl.approx_dtw_alignment(a, b, radius=100)
        assert abs(ce - ca) < 1e-12

    def test_approx_upper_bounds_exact_and_is_close(self):
        a, b = _rand_line(120), _rand_line(110, 1)
        ce, _ = pl.dtw_alignment(a, b)
        ca, path = pl.approx_dtw_alignment(a, b, radius=4)
        assert ca >= ce - 1e-12  # windowed optimum cannot beat the exact
        assert ca <= 2.0 * ce  # and the window keeps it in the ballpark
        assert path[0] == (0, 0) and path[-1] == (119, 109)
        di = np.diff([p[0] for p in path])
        dj = np.diff([p[1] for p in path])
        assert (di >= 0).all() and (dj >= 0).all() and ((di + dj) >= 1).all()

    def test_window_ops_validity(self):
        a, b = _rand_line(40), _rand_line(36, 1)
        _, path = pl.dtw_alignment(a[::2], b[::2])
        s = pl._window_from_path(path, 20, 18)
        up = pl._upsample_window(s, 40, 36)
        di = pl._dilate_window(up, 2)
        for strides, rows, cols in [(s, 20, 18), (up, 40, 36), (di, 40, 36)]:
            assert strides[0, 0] == 0 and strides[-1, 1] == cols
            assert (strides[:, 0] < strides[:, 1]).all()
            # monotone non-decreasing starts/ends (valid warp window)
            assert (np.diff(strides[:, 0]) >= 0).all()
            assert (np.diff(strides[:, 1]) >= 0).all()


class TestMedoidConsensus:
    """GetMedoidPolyline / GetConsensusPolyline
    (src/s2/s2polyline_alignment.h:83-87, 190-230)."""

    def test_medoid_picks_cluster_member(self):
        base = _rand_line(8)
        rng = np.random.default_rng(5)
        lines = []
        for _ in range(3):
            n = base + rng.normal(scale=1e-3, size=base.shape)
            lines.append(n / np.linalg.norm(n, axis=1, keepdims=True))
        lines.append(_rand_line(8, 9))  # outlier
        assert pl.medoid_polyline(lines, approx=False) in (0, 1, 2)

    def test_medoid_tie_breaks_lowest_index(self):
        # two identical polylines: costs tie at 0, reference returns 0
        base = _rand_line(6)
        assert pl.medoid_polyline([base, base.copy()], approx=False) == 0

    def test_consensus_fixed_point_on_identical(self):
        base = _rand_line(7)
        cons = pl.consensus_polyline([base.copy() for _ in range(4)],
                                     approx=False)
        assert cons.shape == base.shape
        assert np.allclose(cons, base, atol=1e-12)

    def test_consensus_improves_over_seed(self):
        base = _rand_line(8)
        rng = np.random.default_rng(6)
        noisy = []
        for _ in range(5):
            n = base + rng.normal(scale=5e-3, size=base.shape)
            noisy.append(n / np.linalg.norm(n, axis=1, keepdims=True))
        cons = pl.consensus_polyline(noisy, approx=False, iteration_cap=10)
        cost_cons = sum(pl.dtw_alignment(cons, l)[0] for l in noisy)
        cost_seed = sum(pl.dtw_alignment(noisy[0], l)[0] for l in noisy)
        assert cost_cons <= cost_seed
        # unit-sphere vertices
        assert np.allclose(np.linalg.norm(cons, axis=1), 1.0, atol=1e-12)


class TestBufferLoop:
    def test_buffer_covers_dilation(self):
        loop = lps.make_regular_loop(40.0, -70.0, 2.0, 64)
        r = math.radians(1.0)
        buf = pl.buffer_loop(loop, r)
        la = 40 + RNG.uniform(-4, 4, 4000)
        lo = -70 + RNG.uniform(-5, 5, 4000)
        px, py, pz = sc.latlng_degrees_to_xyz(la, lo)
        P = np.stack([px, py, pz], 1)
        inside_buf = bo.region_contains_points(buf, P)
        d2 = ek.point_polyline_chord2(P, np.concatenate([loop, loop[:1]]))
        in_loop = lps.PreparedLoop(loop).contains_points(P)
        chord = 2 * math.sin(r / 2)
        must = in_loop | (d2 <= (chord * 0.999) ** 2)
        assert not (must & ~inside_buf).any()


class TestWinding:
    """Winding rules cross-checked against the boolean-op stitcher: for
    two CCW loops, positive == union, W >= 2 == intersection, odd ==
    symmetric difference; a CW hole cancels the shell."""

    def test_rules_match_boolean_ops(self):
        A = lps.make_regular_loop(0.0, 0.0, 20.0, 96)
        B = lps.make_regular_loop(0.0, 15.0, 20.0, 96)
        v = RNG.normal(size=(4000, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        w = bo.winding_number([A, B], v)
        inA = lps.PreparedLoop(A).contains_points(v)
        inB = lps.PreparedLoop(B).contains_points(v)
        assert (bo.winding_contains_points([A, B], v, "positive") == (inA | inB)).all()
        assert ((w >= 2) == (inA & inB)).all()
        assert (bo.winding_contains_points([A, B], v, "odd") == (inA ^ inB)).all()
        # and against the stitched boolean results
        uni = overlay.overlay_boolean([A], [B], "union")
        assert (bo.region_contains_points(uni, v) == (w > 0)).all()

    def test_cw_hole_cancels(self):
        shell = lps.make_regular_loop(0.0, 0.0, 20.0, 64)
        hole = lps.make_regular_loop(0.0, 0.0, 5.0, 64)[::-1]  # CW
        v = RNG.normal(size=(3000, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        w = bo.winding_number([shell, hole], v)
        in_shell = lps.PreparedLoop(shell).contains_points(v)
        in_hole = lps.PreparedLoop(hole[::-1]).contains_points(v)
        assert (w == (in_shell.astype(int) - in_hole.astype(int))).all()
        got = bo.winding_contains_points([shell, hole], v, "positive")
        assert (got == (in_shell & ~in_hole)).all()


class TestSnapRounding:
    def test_snap_idempotent(self):
        loop = lps.make_regular_loop(40.0, -70.0, 3.0, 48)
        s1 = bo.snap_round_loop(loop, 12)
        s2 = bo.snap_round_loop(s1, 12)
        assert np.array_equal(s1, s2)

    def test_snap_bounded_displacement(self):
        from s2geo_spark.kernel import metrics

        loop = lps.make_regular_loop(10.0, 20.0, 2.0, 64)
        s = bo.snap_to_cell_centers(loop, 14)
        chord = np.linalg.norm(s - loop, axis=1)
        # displacement <= cell diagonal at the snap level
        max_diag = metrics.metric_value(2 * metrics.MIN_WIDTH_DERIV, 14)
        assert (chord <= max_diag).all()

    def test_clean_chain_folds_spikes(self):
        a, b, c, d = (np.array(p, dtype=float) for p in
                      [(1, 0, 0), (0, 1, 0), (0, 0, 1), (1, 1, 0)])
        d = d / np.linalg.norm(d)
        # duplicate vertex + spike c -> d -> c
        chain = np.array([a, a, b, c, d, c])
        cleaned = bo.clean_chain(chain)
        assert [tuple(p) for p in cleaned] == [tuple(a), tuple(b), tuple(c)]

    def test_simple_detects_bowtie(self):
        square = lps.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        assert bo.loop_is_simple(square)
        bowtie = lps.parse_loop_text("0:0, 10:10, 0:10, 10:0")
        assert not bo.loop_is_simple(bowtie)

    def test_degenerate_pair_resolves_exactly(self):
        # loops sharing a border edge used to raise (round 2); the
        # boundary-graph overlay (kernel/overlay.py) resolves them exactly
        A = lps.parse_loop_text("0:0, 0:10, 10:10, 10:0")
        B = lps.parse_loop_text("0:10, 0:20, 10:20, 10:10")
        from s2geo_spark.kernel import measures as _m

        u = overlay.overlay_boolean([A], [B], "union")
        assert len(u) == 1
        assert abs(
            bo.region_area(u) - _m.loop_area(A) - _m.loop_area(B)
        ) < 1e-12
        sa = bo.snap_round_loop(A, 10)
        sb = bo.snap_round_loop(B, 10)
        assert bo.loop_is_simple(sa) and bo.loop_is_simple(sb)


class TestRegionBoolean:
    """Multi-loop XOR-region booleans: annulus vs crossing disk,
    island-in-hole, two-sided holes — exact point-sampled consistency."""

    def _reg(self, loops_list, v):
        inside = np.zeros(v.shape[0], dtype=bool)
        for l in loops_list:
            inside ^= lps.PreparedLoop(l).contains_points(v)
        return inside

    def test_annulus_cases(self):
        shell = lps.make_regular_loop(0.0, 0.0, 20.0, 96)
        hole = lps.make_regular_loop(0.0, 0.0, 8.0, 96)
        B = lps.make_regular_loop(0.0, 14.0, 9.0, 96)
        v = RNG.normal(size=(8000, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        inA = self._reg([shell, hole], v)
        inB = self._reg([B], v)
        for op, want in [
            ("intersection", inA & inB),
            ("union", inA | inB),
            ("difference", inA & ~inB),
        ]:
            res = overlay.overlay_boolean([shell, hole], [B], op)
            assert (bo.region_contains_points(res, v) == want).all(), op

    def test_island_in_hole_and_two_sided(self):
        shell = lps.make_regular_loop(0.0, 0.0, 20.0, 96)
        hole = lps.make_regular_loop(0.0, 0.0, 8.0, 96)
        C = lps.make_regular_loop(0.0, 0.0, 3.0, 64)
        b_shell = lps.make_regular_loop(5.0, 25.0, 12.0, 96)
        b_hole = lps.make_regular_loop(5.0, 25.0, 4.0, 96)
        A1 = lps.make_regular_loop(0.0, 14.0, 10.0, 96)
        v = RNG.normal(size=(8000, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        inA = self._reg([shell, hole], v)
        inC = self._reg([C], v)
        inA1 = self._reg([A1], v)
        inB2 = self._reg([b_shell, b_hole], v)
        cases = [
            ([shell, hole], [C], inA, inC),
            ([A1], [b_shell, b_hole], inA1, inB2),
        ]
        for a_l, b_l, ia, ib in cases:
            for op, want in [
                ("intersection", ia & ib),
                ("union", ia | ib),
                ("difference", ia & ~ib),
            ]:
                res = overlay.overlay_boolean(a_l, b_l, op)
                assert (bo.region_contains_points(res, v) == want).all(), op


class TestPolylineClip:
    def test_through_cap(self):
        loop = lps.make_regular_loop(0.0, 0.0, 10.0, 64)
        t = np.linspace(-20, 20, 41)
        x, y, z = sc.latlng_degrees_to_xyz(t * 0.8, t)
        v = np.stack([x, y, z], 1)
        chains = pl.clip_polyline_to_loop(v, loop)
        assert len(chains) == 1
        lp = lps.PreparedLoop(loop)
        for ch in chains:
            mids = ch[:-1] + ch[1:]
            mids /= np.linalg.norm(mids, axis=1, keepdims=True)
            assert lp.contains_points(mids).all()
        # clipped length ~ the chord across the 10-deg cap along this path
        length = sum(
            np.degrees(
                np.arccos(np.clip((ch[:-1] * ch[1:]).sum(1), -1, 1))
            ).sum()
            for ch in chains
        )
        assert 15.0 < length < 26.0

    def test_outside_and_inside(self):
        loop = lps.make_regular_loop(0.0, 0.0, 10.0, 64)
        t = np.linspace(-20, 20, 11)
        x, y, z = sc.latlng_degrees_to_xyz(t * 0 + 40.0, t)
        assert pl.clip_polyline_to_loop(np.stack([x, y, z], 1), loop) == []
        t3 = np.linspace(-4, 4, 9)
        x3, y3, z3 = sc.latlng_degrees_to_xyz(t3 * 0, t3)
        ch = pl.clip_polyline_to_loop(np.stack([x3, y3, z3], 1), loop)
        assert len(ch) == 1 and len(ch[0]) == 9

    def test_multi_entry(self):
        # a zigzag crossing the cap boundary twice each way: 2 chains
        loop = lps.make_regular_loop(0.0, 0.0, 6.0, 64)
        lats = np.array([12.0, 0.0, 12.0, 0.0, 12.0])
        lons = np.array([-12.0, -5.0, 0.0, 5.0, 12.0])
        x, y, z = sc.latlng_degrees_to_xyz(lats, lons)
        chains = pl.clip_polyline_to_loop(np.stack([x, y, z], 1), loop)
        assert len(chains) == 2


class TestRowScanDP:
    """The row-vectorized min-plus DP (_dtw_dp) must reproduce the
    sequential recurrence cell-for-cell, windowed and unwindowed."""

    @staticmethod
    def _scalar_dp(cost, strides=None):
        na, nb = cost.shape
        dp = np.full((na, nb), np.inf)
        for i in range(na):
            s, e = (
                (0, nb)
                if strides is None
                else (int(strides[i, 0]), int(strides[i, 1]))
            )
            for j in range(s, e):
                if i == 0 and j == 0:
                    dp[0, 0] = cost[0, 0]
                    continue
                best = np.inf
                if i > 0:
                    best = min(best, dp[i - 1, j])
                if j > 0:
                    best = min(best, dp[i, j - 1])
                if i > 0 and j > 0:
                    best = min(best, dp[i - 1, j - 1])
                dp[i, j] = cost[i, j] + best
        return dp

    def test_full_dp_bit_identical_integer_costs(self):
        rng = np.random.default_rng(31)
        for _ in range(15):
            na, nb = rng.integers(1, 40, 2)
            cost = rng.integers(0, 1000, (na, nb)).astype(float)
            assert np.array_equal(
                pl._dtw_dp(cost), self._scalar_dp(cost)
            )

    def test_windowed_dp_bit_identical(self):
        rng = np.random.default_rng(32)
        for _ in range(15):
            na, nb = int(rng.integers(2, 30)), int(rng.integers(2, 30))
            cost = rng.integers(0, 1000, (na, nb)).astype(float)
            strides = np.zeros((na, 2), np.int64)
            lo = 0
            for i in range(na):
                lo = min(lo + int(rng.integers(0, 3)), nb - 1)
                strides[i] = (lo, min(nb, lo + 1 + int(rng.integers(0, 6))))
            assert np.array_equal(
                pl._dtw_dp(cost, strides),
                self._scalar_dp(cost, strides),
            )

    def test_float_costs_match_tightly(self):
        rng = np.random.default_rng(33)
        for _ in range(10):
            na, nb = int(rng.integers(2, 30)), int(rng.integers(2, 30))
            cost = rng.random((na, nb))
            assert np.allclose(
                pl._dtw_dp(cost), self._scalar_dp(cost), rtol=1e-12
            )
