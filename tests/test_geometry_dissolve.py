import numpy as np

from openelevationservice_spark.functions.dissolve import dissolve_pixels
from openelevationservice_spark.functions.geometry import points_in_ring, ring_to_arrays

from oracles import dissolve_area_px, label_counts, signed_area2


def test_pip_square_inclusive_boundary():
    rx, ry = ring_to_arrays([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
    px = np.array([2.0, 0.0, 4.0, 2.0, 5.0, -0.1, 2.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 2.0, 2.0, 4.0])
    got = points_in_ring(px, py, rx, ry)
    assert got.tolist() == [True, True, True, True, False, False, True]


def test_pip_concave():
    # L-shape: unit squares (0,0) and (1,0) and (0,1)
    ring = [(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2), (0, 0)]
    rx, ry = ring_to_arrays(ring)
    got = points_in_ring(
        np.array([0.5, 1.5, 0.5, 1.5]), np.array([0.5, 0.5, 1.5, 1.5]), rx, ry
    )
    assert got.tolist() == [True, True, True, False]


def test_pip_dict_ring():
    rx, ry = ring_to_arrays([{"lon": 0, "lat": 0}, {"lon": 1, "lat": 0},
                             {"lon": 1, "lat": 1}, {"lon": 0, "lat": 1},
                             {"lon": 0, "lat": 0}])
    assert points_in_ring(np.array([0.5]), np.array([0.5]), rx, ry)[0]


def test_dissolve_single_pixel():
    polys = dissolve_pixels(np.array([3]), np.array([7]))
    assert len(polys) == 1
    assert len(polys[0]) == 1  # no holes
    shell = polys[0][0]
    assert shell[0] == shell[-1]
    assert set(shell[:-1]) == {(3, 7), (4, 7), (4, 8), (3, 8)}
    assert dissolve_area_px(polys) == 1.0


def test_dissolve_block_with_hole():
    # 3x3 block minus center → 1 polygon, 1 hole, area 8
    cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    polys = dissolve_pixels(np.array([c[0] for c in cells]), np.array([c[1] for c in cells]))
    assert len(polys) == 1
    assert len(polys[0]) == 2  # shell + hole
    assert dissolve_area_px(polys) == 8.0


def test_dissolve_corner_touch_splits():
    # two pixels sharing only a corner → two polygons
    polys = dissolve_pixels(np.array([0, 1]), np.array([0, 1]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 2.0


def test_dissolve_two_regions():
    polys = dissolve_pixels(np.array([0, 1, 5]), np.array([0, 0, 5]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 3.0


def test_dissolve_big_random_area_matches_count():
    rng = np.random.default_rng(5)
    pts = {(int(x), int(y)) for x, y in zip(rng.integers(0, 30, 300), rng.integers(0, 30, 300))}
    gx = np.array([p[0] for p in pts])
    gy = np.array([p[1] for p in pts])
    polys = dissolve_pixels(gx, gy)
    assert dissolve_area_px(polys) == float(len(pts))


def test_label_counts_basic():
    # single cell
    assert label_counts(np.array([0]), np.array([0])) == (1, 1, 0, 0)
    # two diagonal cells: 2 comps at 4-conn, 1 at 8-conn, no holes
    assert label_counts(np.array([0, 1]), np.array([0, 1])) == (2, 1, 0, 0)
    # 3x3 ring with centre hole
    ys, xs = np.nonzero(np.array([[1, 1, 1], [1, 0, 1], [1, 1, 1]]))
    assert label_counts(xs, ys) == (1, 1, 1, 1)


def test_loops_match_labeling_random_grids():
    """Property: traced shells == C4; GEOS ring holes ∈ [H8, H4];
    shoelace area == pixel count — on 300 random grids."""
    rng = np.random.default_rng(7)
    for _ in range(300):
        h, w = rng.integers(1, 11, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.85)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        polys = dissolve_pixels(gx, gy)
        n_shells = len(polys)
        n_holes = sum(len(r) - 1 for r in polys)
        area2 = sum(signed_area2(r[:-1]) for rings in polys for r in rings)
        c4, c8, h4, h8 = label_counts(gx, gy)
        assert c4 == n_shells
        assert h8 <= n_holes <= h4
        assert area2 == 2 * len(gx)


def test_quad_counts_match_labeling():
    """χ4/χ8 from the one-pass quad counts equal the labeling-derived
    Euler numbers on random grids (the in-kernel sandwich relies on it)."""
    from openelevationservice_spark.functions.dissolve import quad_counts
    rng = np.random.default_rng(21)
    for _ in range(200):
        h, w = rng.integers(1, 11, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.85)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        c4, c8, h4, h8 = label_counts(gx, gy)
        q1, q3, qd = quad_counts(gx, gy)
        assert (q1 - q3 + 2 * qd) // 4 == c4 - h8
        assert (q1 - q3 - 2 * qd) // 4 == c8 - h4
        polys = dissolve_pixels(gx, gy)
        n_shells = len(polys)
        n_holes = sum(len(r) - 1 for r in polys)
        assert c8 - h4 <= n_shells - n_holes <= c4 - h8


def test_batch_invariants_matches_per_band():
    """The r6 batched invariants core (one vectorized pass over many
    bands, min-label doubling instead of the per-edge walk) must equal
    the per-band ring path on random cell sets — including donut bands,
    which exercise the negative-cycle (hole) fallback flag."""
    from openelevationservice_spark.functions.dissolve import batch_invariants
    from openelevationservice_spark.operators.color import _invariants_group

    rng = np.random.default_rng(99)
    bands = []
    for _ in range(60):
        h, w = rng.integers(1, 14, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.9)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        off = rng.integers(0, 500, 2)
        bands.append((gx + off[0], gy + off[1]))
    # a donut: 5x5 block minus center (guaranteed hole)
    yy, xx = np.mgrid[0:5, 0:5]
    m = np.ones((5, 5), bool); m[2, 2] = False
    gy, gx = np.nonzero(m)
    bands.append((gx + 40, gy + 17))

    band = np.repeat(np.arange(len(bands)), [len(b[0]) for b in bands])
    gx = np.concatenate([b[0] for b in bands]).astype(np.int64)
    gy = np.concatenate([b[1] for b in bands]).astype(np.int64)
    seg = np.concatenate(([0], np.cumsum([len(b[0]) for b in bands])))
    sh, ho, a2, q1, q3, qd, neg = batch_invariants(band, gx, gy, len(bands), seg)
    assert neg[-1]  # the donut's hole flags the fallback
    for b in range(len(bands)):
        r = _invariants_group(7, 11, gx[seg[b]:seg[b + 1]], gy[seg[b]:seg[b + 1]])
        e4 = (int(q1[b]) - int(q3[b]) + 2 * int(qd[b])) // 4
        e8 = (int(q1[b]) - int(q3[b]) - 2 * int(qd[b])) // 4
        assert r["euler4"] == e4 and r["euler8"] == e8
        if not neg[b]:
            assert r["area_px"] == a2[b] // 2


def test_batch_invariants_asserts_23_bit_local_bound():
    """Local x/y (plus the +1 tail vertex) must stay below 2^23, the
    width of the packed cell key's coordinate fields.  Two cells at
    local x = 0 and x = 2^23 used to wrap into the y field and read as
    one 2-cell shell (and a local y of 2^23 wrapped into the band
    field); just inside the bound the answer is exact."""
    import pytest

    from openelevationservice_spark.functions.dissolve import batch_invariants

    band, seg = np.zeros(2, dtype=np.int64), np.array([0, 2])
    far = np.array([0, 1 << 23], dtype=np.int64)
    zero = np.zeros(2, dtype=np.int64)
    for gx, gy in ((far, zero), (zero, far), (far - 1, zero)):
        with pytest.raises(AssertionError, match="23-bit"):
            batch_invariants(band, gx, gy, 1, seg)
    near = np.array([0, (1 << 23) - 2], dtype=np.int64)
    for gx, gy in ((near, zero), (zero, near)):
        shells, holes, area2, *_ = batch_invariants(band, gx, gy, 1, seg)
        assert (shells[0], holes[0], area2[0]) == (2, 0, 4)


def test_tracer_asserts_2_28_row_bound():
    """The tracer's edge key packs dir << 60 | y << 32 | x, so a band's
    local vertex y must stay below 2^28 and local vertex x below 2^32.
    Two cells 2^28 rows apart used to collide with the direction bits
    (ring areas 1/2 and (2^28 + 1)/2 instead of 1 and 1); just inside
    the bound they trace as two unit squares."""
    import pytest

    with pytest.raises(AssertionError, match="2\\^28"):
        dissolve_pixels(np.array([0, 0]), np.array([0, 1 << 28]))
    # the x field is 32 bits: 2^32 columns apart used to read as adjacent
    with pytest.raises(AssertionError, match="2\\^32"):
        dissolve_pixels(np.array([0, 1 << 32]), np.array([0, 0]))
    polys = dissolve_pixels(np.array([0, 0]), np.array([0, (1 << 28) - 2]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 2.0
