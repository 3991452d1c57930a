"""Kernel golden + property tests, transliterated from the reference suite.

Sources (read-only /root/reference):
  * encode/decode round-trip over random leaf cells: src/s2/s2cell_id_test.cc:299-312
  * token round-trips incl. invalid: src/s2/s2cell_id_test.cc:313-344
  * coverage accuracy (point-to-center bound): src/s2/s2cell_id_test.cc:531-547
  * containment / continuity: src/s2/s2cell_id_test.cc:480-530
  * neighbor goldens (face 3 ring, Zurich): src/s2/s2cell_id_test.cc:645-681
  * v2 fork cases: /root/reference/s2cell_id_v2_test.cc (FaceTokens:192-210 etc.)
"""

import numpy as np
import pytest

from s2geo_spark.kernel import cellid_v1 as v1
from s2geo_spark.kernel import cellid_v2 as v2
from s2geo_spark.kernel import metrics, s2coords as sc

RNG = np.random.default_rng(42)


def random_points(n):
    """Uniform points on the sphere via normalized gaussians
    (same construction as s2random::Point, src/s2/s2random.h:44)."""
    v = RNG.normal(size=(3, n))
    norm = np.sqrt((v * v).sum(axis=0))
    return v[0] / norm, v[1] / norm, v[2] / norm


def debug_to_v1(s):
    """Parse the reference "face/digits" debug-string format into a v1 id."""
    return v2.to_v1(v2.from_string([s]))[0]


class TestCoords:
    def test_uv_st_inverse(self):
        u = RNG.uniform(-1, 1, 100000)
        s = sc.uv_to_st(u)
        assert np.allclose(sc.st_to_uv(s), u, atol=1e-14)
        assert (s >= 0).all() and (s <= 1).all()

    def test_st_to_ij_bounds(self):
        assert sc.st_to_ij(np.array([0.0]))[0] == 0
        assert sc.st_to_ij(np.array([1.0]))[0] == sc.LIMIT_IJ - 1
        assert sc.st_to_ij(np.array([0.5]))[0] == sc.LIMIT_IJ // 2

    def test_face_uv_xyz_roundtrip(self):
        x, y, z = random_points(50000)
        f, u, vv = sc.xyz_to_face_uv(x, y, z)
        x2, y2, z2 = sc.face_uv_to_xyz(f, u, vv)
        # face_uv_to_xyz returns an unnormalized point proportional to input
        n = np.sqrt(x2 * x2 + y2 * y2 + z2 * z2)
        assert np.allclose(x2 / n, x, atol=1e-14)
        assert np.allclose(y2 / n, y, atol=1e-14)
        assert np.allclose(z2 / n, z, atol=1e-14)
        assert (np.abs(u) <= 1).all() and (np.abs(vv) <= 1).all()

    def test_face_centers(self):
        # Face centers map to (face, 0, 0)
        centers = np.array(
            [[1, 0, 0], [0, 1, 0], [0, 0, 1], [-1, 0, 0], [0, -1, 0], [0, 0, -1]],
            dtype=np.float64,
        )
        f, u, vv = sc.xyz_to_face_uv(centers[:, 0], centers[:, 1], centers[:, 2])
        assert list(f) == [0, 1, 2, 3, 4, 5]
        assert np.all(u == 0) and np.all(vv == 0)


class TestCellIdV1:
    def test_face_cells(self):
        ids = np.array([(2 * f + 1) << 60 for f in range(6)], dtype=np.uint64)
        assert (v1.level(ids) == 0).all()
        assert (v1.face(ids) == np.arange(6)).all()
        assert v1.is_face(ids).all()
        assert list(v1.to_token(ids)) == ["1", "3", "5", "7", "9", "b"]

    def test_encode_decode_roundtrip_200k(self):
        # s2cell_id_test.cc:299-312 on 200k random leaf cells
        x, y, z = random_points(200000)
        ids = v1.from_point(x, y, z)
        assert v1.is_leaf(ids).all()
        lat, lon = v1.to_latlng_degrees(ids)
        assert (v1.from_latlng(lat, lon) == ids).all()

    def test_face_ij_roundtrip(self):
        f = RNG.integers(0, 6, 100000)
        i = RNG.integers(0, v1.MAX_SIZE, 100000)
        j = RNG.integers(0, v1.MAX_SIZE, 100000)
        ids = v1.from_face_ij(f, i, j)
        f2, i2, j2 = v1.to_face_ij_orientation(ids)
        assert (f2 == f).all() and (i2 == i).all() and (j2 == j).all()

    def test_token_roundtrip_and_invalid(self):
        x, y, z = random_points(10000)
        ids = v1.from_point(x, y, z)
        lvl = RNG.integers(0, 31, 10000)
        ids = v1.parent(ids, lvl)
        toks = list(v1.to_token(ids))
        assert max(len(t) for t in toks) <= 16
        assert (v1.from_token(toks) == ids).all()
        # invalid -> "X" -> 0 (s2cell_id_test.cc:313-344)
        assert v1.to_token(np.array([0], dtype=np.uint64))[0] == "X"
        assert v1.from_token(["X"])[0] == 0
        assert v1.from_token(["876b e99"])[0] == 0
        assert v1.from_token([""])[0] == 0
        assert v1.from_token(["x" * 17])[0] == 0

    def test_coverage_accuracy_1m(self):
        # s2cell_id_test.cc:531-547: dist(p, center(cell(p))) <= 0.5*kMaxDiag(30)
        x, y, z = random_points(1_000_000)
        ids = v1.from_point(x, y, z)
        cx, cy, cz = v1.to_point(ids)
        # stable small-angle formula (angle = 2*asin(|p-c|/2)), like S1Angle
        chord = np.sqrt((x - cx) ** 2 + (y - cy) ** 2 + (z - cz) ** 2)
        angle = 2.0 * np.arcsin(0.5 * chord)
        bound = 0.5 * metrics.metric_value(metrics.MAX_DIAG_DERIV, 30)
        assert angle.max() <= bound * (1 + 1e-9)

    def test_parent_child_containment(self):
        x, y, z = random_points(50000)
        leaf = v1.from_point(x, y, z)
        for lvl in [0, 1, 5, 12, 20, 29]:
            p = v1.parent(leaf, lvl)
            assert (v1.level(p) == lvl).all()
            assert v1.contains(p, leaf).all()
            assert v1.intersects(p, leaf).all()
            c = v1.child(p, RNG.integers(0, 4, p.shape[0]))
            assert (v1.level(c) == lvl + 1).all()
            assert v1.contains(p, c).all()
            assert (v1.parent1(c) == p).all()

    def test_child_begin_end_ranges(self):
        x, y, z = random_points(10000)
        cells = v1.parent(v1.from_point(x, y, z), 10)
        cb = v1.child_begin(cells, 15)
        ce = v1.child_end(cells, 15)
        assert (v1.level(cb) == 15).all()
        # 4^5 descendants, spaced 2*lsb(level 15) apart on the Hilbert curve
        step = v1.lsb_for_level(np.array([15]))[0] << np.uint64(1)
        assert ((ce - cb) == np.uint64(4 ** 5) * step).all()
        assert (v1.range_min(cells) == v1.range_min(cb)).all()

    def test_continuity_next_prev(self):
        x, y, z = random_points(1000)
        cells = v1.parent(v1.from_point(x, y, z), 8)
        nxt = v1.next_cell(cells)
        prv = v1.prev_cell(nxt)
        assert (prv == cells).all()
        assert (v1.level(nxt) == 8).all()

    def test_center_siti_exact(self):
        # s2cell_id_test.cc:131-168: the cell containing its own center is itself
        x, y, z = random_points(20000)
        for lvl in [2, 7, 13, 22, 30]:
            cells = v1.parent(v1.from_point(x, y, z), lvl)
            cx, cy, cz = v1.to_point_raw(cells)
            back = v1.parent(v1.from_point(cx, cy, cz), lvl)
            assert (back == cells).all()

    def test_all_neighbors_face3_golden(self):
        # s2cell_id_test.cc AllNeighborsForFace3 golden
        fid = np.array([(2 * 3 + 1) << 60], dtype=np.uint64)
        nbrs = v1.append_all_neighbors(fid, 0)
        got = sorted(int(v) for v in nbrs.ravel())
        expect = sorted(
            int(debug_to_v1(s))
            for s in ["1/", "2/", "2/", "2/", "4/", "5/", "5/", "5/"]
        )
        assert got == expect

    def test_all_neighbors_zurich_golden(self):
        # s2cell_id_test.cc:667-681 AllNeighborsForZurich
        zid = np.array([debug_to_v1("2/033020001100")], dtype=np.uint64)
        nbrs = v1.append_all_neighbors(zid, 12)
        got = sorted(int(v) for v in nbrs.ravel())
        expect = sorted(
            int(debug_to_v1(s))
            for s in [
                "2/033020001030",
                "2/033020001033",
                "2/033020001101",
                "2/033020001102",
                "2/033020001103",
                "2/033031110010",
                "2/033031110011",
                "2/033031110322",
            ]
        )
        assert got == expect

    def test_ring_cells_mixed_levels(self):
        # each row: its ancestor + the 8 neighbors at its own level; level
        # 0 rows hold all six faces (the face-3 ring above omits face 0)
        leaf = v1.from_latlng(np.array([47.3769, 10.0, 47.3769]), np.array([8.5417, 20.0, 8.5417]))
        ring = v1.ring_cells(leaf, [12, 0, 5])
        for row, lvl in ((0, 12), (2, 5)):
            anc = v1.parent(leaf[row : row + 1], lvl)
            assert ring[row, 0] == anc[0]
            assert (ring[row, 1:] == v1.append_all_neighbors(anc, lvl)[0]).all()
        assert set(ring[1]) == set(v1.FACE_CELLS)

    def test_edge_neighbors_symmetry(self):
        x, y, z = random_points(2000)
        cells = v1.parent(v1.from_point(x, y, z), 6)
        nbrs = v1.get_edge_neighbors(cells)
        assert (v1.level(nbrs.ravel()) == 6).all()
        # symmetry: each cell appears among its neighbors' neighbors
        for col in range(4):
            back = v1.get_edge_neighbors(nbrs[:, col])
            found = (back == cells[:, None]).any(axis=1)
            assert found.all()

    def test_range_min_max(self):
        x, y, z = random_points(5000)
        cells = v1.parent(v1.from_point(x, y, z), 9)
        rmin, rmax = v1.range_min(cells), v1.range_max(cells)
        assert v1.is_leaf(rmin).all() and v1.is_leaf(rmax).all()
        assert (v1.parent(rmin, 9) == cells).all()
        assert (v1.parent(rmax, 9) == cells).all()


class TestCellIdV2:
    """Transliterations of the fork suite /root/reference/s2cell_id_v2_test.cc."""

    def test_face_tokens_golden(self):
        # s2cell_id_v2_test.cc:192-210
        roots = v2.from_v1(
            np.array([(2 * f + 1) << 60 for f in range(6)], dtype=np.uint64)
        )
        assert list(v2.to_token(roots)) == ["1", "3", "5", "7", "9", "b"]
        assert (v2.level(roots) == 0).all()
        assert (v2.face(roots) == np.arange(6)).all()
        assert v2.is_valid(roots).all()

    def test_face0_root_marker(self):
        # s2cell_id.h:106-116: face-0 root is the marker 1<<60, not 0
        root0 = v2.from_v1(np.array([1 << 60], dtype=np.uint64))
        assert int(root0[0]) == 1 << 60
        assert v2.is_valid(root0)[0]
        assert v2.face(root0)[0] == 0 and v2.level(root0)[0] == 0
        assert int(v2.to_v1(root0)[0]) == 1 << 60

    def test_v1_v2_roundtrip_all_levels(self):
        x, y, z = random_points(50000)
        leaf = v1.from_point(x, y, z)
        for lvl in [0, 1, 4, 15, 27, 28]:
            ids = v1.parent(leaf, lvl)
            v2ids = v2.from_v1(ids)
            assert v2.is_valid(v2ids).all()
            assert (v2.level(v2ids) == lvl).all()
            assert (v2.face(v2ids) == v1.face(ids)).all()
            assert (v2.to_v1(v2ids) == ids).all()

    def test_truncation_beyond_28(self):
        # s2cell_id_v2_test.cc truncation-at-29/30
        x, y, z = random_points(10000)
        for lvl in [29, 30]:
            ids = v1.parent(v1.from_point(x, y, z), lvl)
            v2ids = v2.from_v1(ids)
            assert (v2.level(v2ids) == 28).all()
            assert (v2.to_v1(v2ids) == v1.parent(ids, 28)).all()

    def test_parent_child_field_math(self):
        x, y, z = random_points(20000)
        ids = v2.from_v1(v1.parent(v1.from_point(x, y, z), 15))
        p = v2.parent(ids)
        assert (v2.level(p) == 14).all()
        pos = v2.child_position(ids)
        assert (v2.child(p, pos) == ids).all()
        # parent(target_level) consistency with v1
        p4 = v2.parent(ids, 4)
        assert (v2.to_v1(p4) == v1.parent(v2.to_v1(ids), 4)).all()

    def test_string_roundtrip(self):
        # s2cell_id_v2_test.cc ToStringFromString
        x, y, z = random_points(1000)
        for lvl in [0, 3, 12, 28]:
            ids = v2.from_v1(v1.parent(v1.from_point(x, y, z), lvl))
            ss = list(v2.to_string(ids))
            assert (v2.from_string(ss) == ids).all()
        assert v2.to_string(np.array([0], dtype=np.uint64))[0] == "INVALID"
        assert v2.from_string(["6/123"])[0] == 0
        assert v2.from_string(["2/014"])[0] == 0
        assert v2.from_string([""])[0] == 0

    def test_is_valid_rejects_garbage(self):
        # path high bits must be zero beyond 2*level (s2cell_id.h:305-339)
        bad = np.array([(2 << 61) | (0xFF << 5) | 1], dtype=np.uint64)  # level 1, 8-bit path
        assert not v2.is_valid(bad)[0]
        bad_face = np.array([(np.uint64(7) << np.uint64(61)) | np.uint64(3)], dtype=np.uint64)
        assert not v2.is_valid(bad_face)[0]
        assert not v2.is_valid(np.array([0], dtype=np.uint64))[0]

    def test_ordering_is_v1_hilbert_order(self):
        # s2cell_id.h:846-849: operator< delegates to v1
        x, y, z = random_points(5000)
        ids = v1.parent(v1.from_point(x, y, z), 12)
        order_v1 = np.argsort(ids, kind="stable")
        v2ids = v2.from_v1(ids)
        back = v2.to_v1(v2ids)
        order_back = np.argsort(back, kind="stable")
        assert (order_v1 == order_back).all()


class TestMetrics:
    def test_level_for_value_inverse(self):
        for deriv in [metrics.MIN_WIDTH_DERIV, metrics.MAX_DIAG_DERIV]:
            lvls = np.arange(0, 31)
            vals = metrics.metric_value(deriv, lvls)
            assert (metrics.level_for_max_value(deriv, vals) == lvls).all()
            assert (metrics.level_for_min_value(deriv, vals) == lvls).all()

    def test_avg_area_sums_to_sphere(self):
        total = 6 * metrics.metric_value(metrics.AVG_AREA_DERIV, 0, dim=2)
        assert abs(total - 4 * np.pi) < 1e-12
