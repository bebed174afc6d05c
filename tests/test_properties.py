"""Property-based invariants (hypothesis) for the pure-numpy kernels —
the cell index and block reducers are the engine's foundations; these
pin their algebra over randomized inputs, not just fixtures."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pyramidscheme_jl_spark.functions.cells import (
    MAX_RES,
    cell_range,
    cell_to_parent,
    cell_to_xy,
    compact_cells,
    grid_disk,
    point_to_cell,
    xy_to_cell,
)
from pyramidscheme_jl_spark.functions.reducers import block_reduce
from pyramidscheme_jl_spark.plans.grid import agg_axis, level_shape, tile_count

coords = st.integers(min_value=0, max_value=(1 << 20) - 1)
res_20 = st.integers(min_value=0, max_value=20)


@given(coords, coords, res_20)
def test_cell_roundtrip(ix, iy, res):
    n = 1 << res
    ix, iy = ix % n, iy % n
    c = xy_to_cell(ix, iy, res)
    jx, jy, r = cell_to_xy(c)
    assert (int(jx), int(jy), int(r)) == (ix, iy, res)


@given(coords, coords, res_20, st.integers(min_value=0, max_value=20))
def test_parent_contains_child_range(ix, iy, res, pres):
    if pres > res:
        res, pres = pres, res
    n = 1 << res
    ix, iy = ix % n, iy % n
    child = xy_to_cell(ix, iy, res)
    parent = cell_to_parent(child, pres)
    lo, hi = cell_range(parent, res)
    assert int(lo) <= int(child) <= int(hi)
    # the range is exactly 4^(res-pres) descendants
    assert int(hi) - int(lo) + 1 == 1 << (2 * (res - pres))


@given(coords, coords, st.integers(min_value=1, max_value=8), st.integers(min_value=1, max_value=3))
def test_grid_disk_membership(ix, iy, res, k):
    n = 1 << res
    ix, iy = ix % n, iy % n
    disk = grid_disk(xy_to_cell(ix, iy, res), k)[0]
    jx, jy, r = cell_to_xy(disk)
    assert (r == res).all()
    assert (np.abs(jx - ix) <= k).all() and (np.abs(jy - iy) <= k).all()
    # every in-bounds chebyshev-<=k neighbor is present
    want = {
        (x, y)
        for x in range(max(0, ix - k), min(n, ix + k + 1))
        for y in range(max(0, iy - k), min(n, iy + k + 1))
    }
    assert {(int(a), int(b)) for a, b in zip(jx, jy)} == want


@given(st.lists(st.tuples(st.integers(0, 63), st.integers(0, 63)), min_size=1, max_size=40))
def test_compact_cover_preserves_leaf_set(pairs):
    res = 6
    leaves = xy_to_cell([p[0] for p in pairs], [p[1] for p in pairs], res)
    compact = compact_cells(leaves)
    # expanding the compact set back to res recovers exactly the leaf set
    out = set()
    for c in compact:
        lo, hi = cell_range(np.int64(c), res)
        out.update(range(int(lo), int(hi) + 1))
    assert out == set(int(x) for x in np.unique(leaves))


@given(
    st.floats(min_value=0.0, max_value=1023.999, allow_nan=False),
    st.floats(min_value=0.0, max_value=1023.999, allow_nan=False),
    st.integers(min_value=0, max_value=10),
)
def test_point_to_cell_in_bounds_and_consistent(x, y, res):
    c = point_to_cell(x, y, res, 1024.0)
    ix, iy, r = cell_to_xy(c)
    n = 1 << res
    size = 1024.0 / n
    assert 0 <= int(ix) < n and 0 <= int(iy) < n and int(r) == res
    # the point lies inside (or on the clamp edge of) its cell
    assert ix * size <= x < (ix + 1) * size or int(ix) == n - 1
    assert iy * size <= y < (iy + 1) * size or int(iy) == n - 1


@settings(deadline=None, max_examples=40)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=5),
    st.sampled_from(["mean", "min", "max", "sum", "median"]),
)
def test_block_reduce_shape_and_range(h, w, fac, reducer):
    rng = np.random.RandomState(h * 41 + w * 7 + fac)
    a = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    out = block_reduce(a, reducer, fac=fac)
    assert out.shape == (-(-h // fac), -(-w // fac))
    f = a.astype(np.float64)
    if reducer in ("mean", "median"):
        assert (out >= f.min() - 1e-9).all() and (out <= f.max() + 1e-9).all()
    if reducer == "sum":
        assert out.sum() == f.sum()
    if reducer in ("min", "max"):
        agg = out.min() if reducer == "min" else out.max()
        want = a.min() if reducer == "min" else a.max()
        assert agg == want


@settings(deadline=None, max_examples=40)
@given(st.integers(min_value=1, max_value=4096), st.integers(min_value=1, max_value=16))
def test_agg_axis_and_level_shape_consistent(n_points, fac):
    ax = agg_axis(np.arange(n_points, dtype=np.float64) + 0.5, fac)
    assert len(ax) == -(-n_points // fac)
    lw, lh = level_shape((n_points, n_points), 0)
    assert (lw, lh) == (n_points, n_points)
    nx, ny = tile_count((n_points, n_points), 0, 256)
    assert nx == -(-n_points // 256)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    quality=st.integers(60, 100),
    mode=st.sampled_from(["gray", "rgb444", "rgb420", "rgb422"]),
    prog=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_roundtrip_properties(h, w, quality, mode, prog, seed):
    """Any dims x quality x sampling x scan-order: decode succeeds with the
    input shape, stays in range, and progressive == sequential pixels."""
    import numpy as np

    from pyramidscheme_jl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(seed)
    if mode == "gray":
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
    else:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    ss = {"gray": False, "rgb444": "444", "rgb420": "420", "rgb422": "422"}[mode]
    seq = decode_jpeg(encode_jpeg(img, quality=quality, subsample=ss))
    assert seq.shape == img.shape and seq.dtype == np.uint8
    if prog:
        pr = decode_jpeg(encode_jpeg_progressive(img, quality=quality, subsample=ss))
        np.testing.assert_array_equal(seq, pr)


def _classify_by_retest(rings, res, world):
    """The cover classification as a second pass: every cover cell's
    corner, vertex and edge tests re-run (the oracle for the descent's
    own verdicts)."""
    from pyramidscheme_jl_spark.functions.cells import (
        _segments_intersect_rect,
        points_in_polygon,
        polygon_to_cells,
    )

    cover = polygon_to_cells(rings, res, world, compact=True)
    allv = np.concatenate(rings)
    is_full = np.zeros(len(cover), dtype=bool)
    ix, iy, r = cell_to_xy(cover)
    for i in range(len(cover)):
        size = world / (1 << int(r[i]))
        x0, y0 = ix[i] * size, iy[i] * size
        x1, y1 = x0 + size, y0 + size
        corners = points_in_polygon(
            np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]), rings
        )
        vert_in = (
            (allv[:, 0] >= x0) & (allv[:, 0] <= x1) & (allv[:, 1] >= y0) & (allv[:, 1] <= y1)
        ).any()
        is_full[i] = bool(
            corners.all() and not vert_in and not _segments_intersect_rect(rings, x0, y0, x1, y1)
        )
    return cover, is_full


def _star(cx, cy, radii, phase, snap):
    """A simple star-shaped ring around (cx, cy); with ``snap`` every
    vertex sits on the cell lattice, so vertices land on cell edges."""
    n = len(radii)
    ang = phase + 2 * np.pi * np.arange(n) / n
    ring = np.stack([cx + np.asarray(radii) * np.cos(ang), cy + np.asarray(radii) * np.sin(ang)], 1)
    return np.round(ring / snap) * snap if snap else ring


_radii = st.lists(st.floats(0.6, 1.0), min_size=3, max_size=9)


@settings(deadline=None, max_examples=40)
@given(
    kind=st.sampled_from(["simple", "holed", "multi"]),
    outer=_radii,
    inner=_radii,
    phase=st.floats(0.0, 6.3),
    cx=st.floats(300.0, 700.0),
    cy=st.floats(300.0, 700.0),
    scale=st.floats(60.0, 250.0),
    res=st.integers(3, 6),
    snap=st.booleans(),
)
def test_cover_classification_matches_retest(kind, outer, inner, phase, cx, cy, scale, res, snap):
    """``polygon_to_cells_classified`` takes ``is_full`` from the cover
    descent itself; it must equal the per-cell re-test over random
    simple, holed and multi polygons, vertices on cell edges included."""
    from pyramidscheme_jl_spark.functions.cells import polygon_to_cells_classified

    world = 1024.0
    lattice = world / (1 << res) if snap else 0.0
    rings = [_star(cx, cy, np.asarray(outer) * scale, phase, lattice)]
    if kind == "holed":
        rings.append(_star(cx, cy, np.asarray(inner) * scale * 0.3, -phase, lattice))
    elif kind == "multi":
        rings.append(_star(world - cx, world - cy, np.asarray(inner) * scale * 0.5, phase, lattice))
    cells, is_full = polygon_to_cells_classified(rings, res, world)
    want_cells, want_full = _classify_by_retest(rings, res, world)
    np.testing.assert_array_equal(cells, want_cells)
    np.testing.assert_array_equal(is_full, want_full)
    assert cells.dtype == np.int64 and is_full.dtype == bool


def _ref_segments_intersect_rect(rings, rx0, ry0, rx1, ry1) -> bool:
    """The scalar edge-crosses-rect test of the recursive descent, with its
    early exits (reference for ``_ref_cover_descent``)."""
    from pyramidscheme_jl_spark.functions.cells import _ring_edges

    ax, ay, bx, by = _ring_edges(rings)
    reject = (
        (np.maximum(ax, bx) < rx0)
        | (np.minimum(ax, bx) > rx1)
        | (np.maximum(ay, by) < ry0)
        | (np.minimum(ay, by) > ry1)
    )
    cand = ~reject
    if not cand.any():
        return False
    inside = (ax >= rx0) & (ax <= rx1) & (ay >= ry0) & (ay <= ry1)
    if (inside & cand).any():
        return True
    for (px0, py0, px1, py1) in (
        (rx0, ry0, rx1, ry0),
        (rx1, ry0, rx1, ry1),
        (rx1, ry1, rx0, ry1),
        (rx0, ry1, rx0, ry0),
    ):
        d1 = (px1 - px0) * (ay - py0) - (py1 - py0) * (ax - px0)
        d2 = (px1 - px0) * (by - py0) - (py1 - py0) * (bx - px0)
        d3 = (bx - ax) * (py0 - ay) - (by - ay) * (px0 - ax)
        d4 = (bx - ax) * (py1 - ay) - (by - ay) * (px1 - ax)
        hit = ((d1 * d2) < 0) & ((d3 * d4) < 0)
        if (hit & cand).any():
            return True
    return False


def _ref_cover_descent(rings, res, world):
    """The recursive per-cell quadtree descent that the level-synchronous
    one replaced: one visit per cell, four corners, an edge test and a
    vertex test each. -> sorted ``(cells, is_full)``."""
    from pyramidscheme_jl_spark.functions.cells import points_in_polygon

    allv = np.concatenate(rings)
    bx0, by0 = allv[:, 0].min(), allv[:, 1].min()
    bx1, by1 = allv[:, 0].max(), allv[:, 1].max()
    out = []

    def visit(r, ix, iy):
        size = world / (1 << r)
        x0, y0 = ix * size, iy * size
        x1, y1 = x0 + size, y0 + size
        if x1 <= bx0 or x0 >= bx1 or y1 <= by0 or y0 >= by1:
            return
        corners_in = points_in_polygon(
            np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]), rings
        )
        edge_hit = _ref_segments_intersect_rect(rings, x0, y0, x1, y1)
        vert_in = (
            (allv[:, 0] >= x0) & (allv[:, 0] <= x1) & (allv[:, 1] >= y0) & (allv[:, 1] <= y1)
        ).any()
        if corners_in.all() and not edge_hit and not vert_in:
            out.append((int(xy_to_cell(ix, iy, r)), True))
            return
        if not corners_in.any() and not edge_hit and not vert_in:
            return
        if r == res:
            out.append((int(xy_to_cell(ix, iy, r)), False))
            return
        for dy in (0, 1):
            for dx in (0, 1):
                visit(r + 1, 2 * ix + dx, 2 * iy + dy)

    visit(0, 0, 0)
    out.sort()
    return (
        np.asarray([c for c, _ in out], dtype=np.int64),
        np.asarray([f for _, f in out], dtype=bool),
    )


@settings(deadline=None, max_examples=60)
@given(
    kind=st.sampled_from(["simple", "holed", "multi"]),
    outer=_radii,
    inner=_radii,
    phase=st.floats(0.0, 6.3),
    cx=st.floats(250.0, 750.0),
    cy=st.floats(250.0, 750.0),
    scale=st.floats(40.0, 240.0),
    res=st.integers(2, 6),
    snap=st.booleans(),
    edge=st.sampled_from([None, "left", "bottom", "right", "top"]),
)
def test_cover_descent_matches_recursive(kind, outer, inner, phase, cx, cy, scale, res, snap, edge):
    """The level-synchronous cover gives the recursive descent's cells and
    ``is_full`` flags bit for bit over simple, holed and multi polygons,
    with lattice-snapped vertices (on cell edges), and with the shape
    shifted onto one world edge (by a lattice multiple when snapped)."""
    from pyramidscheme_jl_spark.functions.cells import as_rings, polygon_to_cells_classified

    world = 1024.0
    lattice = world / (1 << res) if snap else 0.0
    rings = [_star(cx, cy, np.asarray(outer) * scale, phase, lattice)]
    if kind == "holed":
        rings.append(_star(cx, cy, np.asarray(inner) * scale * 0.3, -phase, lattice))
    elif kind == "multi":
        rings.append(_star(world - cx, world - cy, np.asarray(inner) * scale * 0.5, phase, lattice))
    if edge is not None:
        allv = np.concatenate(rings)
        axis = 0 if edge in ("left", "right") else 1
        to = 0.0 - allv[:, axis].min() if edge in ("left", "bottom") else world - allv[:, axis].max()
        for r in rings:
            r[:, axis] += to
    rings = [np.clip(r, 0.0, world) for r in rings]
    cells, is_full = polygon_to_cells_classified(rings, res, world)
    want_cells, want_full = _ref_cover_descent(as_rings(rings), res, world)
    np.testing.assert_array_equal(cells, want_cells)
    np.testing.assert_array_equal(is_full, want_full)
    assert cells.dtype == np.int64 and is_full.dtype == bool
