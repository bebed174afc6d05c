"""Hierarchical spatial cell index with an H3-like API (SURVEY.md §2.8 J2).

No ``h3``/``s2`` library exists in the sandbox, so this is an original
pure-numpy quadkey/Morton index over the engine's world space (base-pixel
coordinates ``[0, world) x [0, world)``). Semantics follow the north rule's
*usage* of H3 — hierarchical cells, parent/child, k-ring disks, compact
covers — not H3's hexagon geometry.

Cell id layout (int64): ``res << 56 | morton``, where ``morton`` interleaves
the ``res``-bit x/y grid coordinates (x in even bits). Key scale property:
**all res-R descendants of a cell form one contiguous morton range**, so a
compact cover translates to range predicates / prefix equi-joins with zero
explosion — that is what keeps the spatial joins shuffle-light at 100 TB.

Everything is vectorized over numpy int64 arrays; the bit math also has
Spark column-expression twins (shiftleft/shiftright) where needed JVM-side.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26  # 2*26 = 52 morton bits + 5 res bits < 63
_RES_SHIFT = 56


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 26 bits of v so there is a zero bit between each."""
    v = v.astype(np.int64) & 0x3FFFFFF
    v = (v | (v << 16)) & 0x0000FFFF0000FFFF
    v = (v | (v << 8)) & 0x00FF00FF00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v << 2)) & 0x3333333333333333
    v = (v | (v << 1)) & 0x5555555555555555
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def xy_to_cell(ix, iy, res: int) -> np.ndarray:
    """Grid coords at resolution ``res`` (0 <= ix,iy < 2^res) -> cell id."""
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    morton = _part1by1(ix) | (_part1by1(iy) << 1)
    return (np.int64(res) << _RES_SHIFT) | morton


def cell_to_xy(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell id -> (ix, iy, res)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    return _compact1by1(morton), _compact1by1(morton >> 1), res


def cell_res(cell) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> _RES_SHIFT


def point_to_cell(x, y, res: int, world: float) -> np.ndarray:
    """World coords -> cell at resolution ``res`` (grid of 2^res per axis).

    Half-open cells: a point exactly on a shared edge belongs to the
    higher-index cell; points on the world max edge clamp into the last cell.
    """
    n = 1 << res
    scale = n / float(world)
    ix = np.clip(np.floor(np.asarray(x, dtype=np.float64) * scale).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(np.asarray(y, dtype=np.float64) * scale).astype(np.int64), 0, n - 1)
    return xy_to_cell(ix, iy, res)


def cell_to_parent(cell, parent_res: int) -> np.ndarray:
    """Ancestor cell at ``parent_res`` (pure bit shift — JVM-expressible)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    shift = 2 * (res - parent_res)
    return (np.int64(parent_res) << _RES_SHIFT) | (morton >> shift)


def cell_range(cell, child_res: int) -> tuple[np.ndarray, np.ndarray]:
    """[lo, hi] inclusive cell-id range of all ``child_res`` descendants.

    This contiguity is the index's superpower: compact covers become range
    predicates instead of exploded child lists.
    """
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    shift = 2 * (child_res - res)
    lo = (np.int64(child_res) << _RES_SHIFT) | (morton << shift)
    hi = lo + ((np.int64(1) << shift) - 1)
    return lo, hi


def grid_disk(cell, k: int) -> np.ndarray:
    """All cells within Chebyshev distance ``k`` (the (2k+1)^2 square disk).

    The quad-grid analogue of H3 ``grid_disk`` / k-ring (north rule J4).
    Input may be scalar or 1-D; output shape ``(n, (2k+1)^2)`` (clipped cells
    outside the world are replaced by the center cell — callers dedupe).
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    ix, iy, res = cell_to_xy(cell)
    n = np.int64(1) << res  # per-row world size in cells
    offs = np.arange(-k, k + 1, dtype=np.int64)
    ox, oy = np.meshgrid(offs, offs, indexing="xy")
    jx = ix[:, None] + ox.ravel()[None, :]
    jy = iy[:, None] + oy.ravel()[None, :]
    valid = (jx >= 0) & (jy >= 0) & (jx < n[:, None]) & (jy < n[:, None])
    jx = np.where(valid, jx, ix[:, None])
    jy = np.where(valid, jy, iy[:, None])
    morton = _part1by1(jx.ravel()) | (_part1by1(jy.ravel()) << 1)
    out = (res.repeat((2 * k + 1) ** 2) << _RES_SHIFT) | morton
    return out.reshape(len(cell), -1)


def compact_cells(cells) -> np.ndarray:
    """Replace any complete set of 4 siblings by their parent, recursively.

    Quad-grid analogue of H3 ``compact_cells`` (north rule: "H3 compact
    covers"). Covers are small (driver-side planning artifacts), so a simple
    bottom-up sibling-collapse is plenty.
    """
    from collections import defaultdict

    cells = np.unique(np.asarray(cells, dtype=np.int64))
    if len(cells) == 0:
        return cells
    mask = (1 << _RES_SHIFT) - 1
    levels: dict[int, set[int]] = defaultdict(set)
    for c in cells.tolist():
        levels[c >> _RES_SHIFT].add(c & mask)
    out: list[int] = []
    for r in range(max(levels), -1, -1):
        ms = levels.get(r, set())
        if r > 0 and ms:
            counts: dict[int, int] = defaultdict(int)
            for m in ms:
                counts[m >> 2] += 1
            promoted = {p for p, n in counts.items() if n == 4}
            if promoted:
                ms = {m for m in ms if (m >> 2) not in promoted}
                levels[r - 1].update(promoted)
        out.extend((r << _RES_SHIFT) | m for m in ms)
    return np.array(sorted(out), dtype=np.int64)


# ---------------------------------------------------------------------------
# polygon geometry (vectorized ray casting + covers) — north rule J3
# ---------------------------------------------------------------------------


def as_rings(geom) -> list[np.ndarray]:
    """Normalize a geometry to a flat list of (n, 2) float64 rings under
    EVEN-ODD semantics (r7: polygon holes + multipolygons — the last
    semantic gap between demo polygons and real GIS boundary data, where
    admin regions / land cover / lakes are multipolygon-with-holes on row
    one). Accepted shapes:

    - a single ring: (n, 2) array-like                      -> [ring]
    - a ring list  : [outer, hole, ...] or several outers   -> as-is
    - a multipolygon: [[outer, hole, ...], [outer, ...]]    -> flattened

    Under even-odd, the flat list IS the geometry: a point inside exactly
    one ring (an outer) is in; inside two (outer + hole) is out; disjoint
    parts are independent. No orientation or nesting bookkeeping needed —
    which is also why the DuckDB oracle twin is just the concatenated
    closed edge list of every ring."""
    arr = None
    try:
        arr = np.asarray(geom, dtype=np.float64)
    except (ValueError, TypeError):
        pass
    if arr is not None and arr.ndim == 2 and arr.shape[1] == 2:
        return [arr]
    if arr is not None and arr.ndim == 3 and arr.shape[2] == 2:
        return [arr[i] for i in range(arr.shape[0])]
    out: list[np.ndarray] = []
    for part in geom:  # ragged list: rings and/or nested polygons
        out.extend(as_rings(part))
    if not out:
        raise ValueError("empty geometry: no rings")
    return out


def _ring_edges(rings: list[np.ndarray]):
    """Concatenated closed edge arrays (x1, y1, x2, y2) — each ring closes
    onto itself; NO edge spans two rings."""
    if len(rings) == 1:
        x1, y1 = rings[0][:, 0], rings[0][:, 1]
        return x1, y1, np.roll(x1, -1), np.roll(y1, -1)
    xs1 = [r[:, 0] for r in rings]
    ys1 = [r[:, 1] for r in rings]
    return (
        np.concatenate(xs1),
        np.concatenate(ys1),
        np.concatenate([np.roll(x, -1) for x in xs1]),
        np.concatenate([np.roll(y, -1) for y in ys1]),
    )


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Vectorized even-odd ray cast: are points inside the geometry?

    Half-open boundary rule: edges crossing strictly above the point count;
    a point exactly on a horizontal edge or right boundary is outside, on a
    left/bottom boundary inside — consistent & deterministic, pinned by tests
    (FIXTURES.md §4 boundary rule).
    ``ring``: any ``as_rings`` shape — a single (n, 2) ring (auto-closed),
    a ring list ``[outer, hole, ...]``, or a multipolygon. Crossings sum
    over ALL rings' edges, so holes and disjoint parts fall out of the
    same parity test (r7).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = _ring_edges(as_rings(ring))
    # (chunk, nedges) crossing test, cache-blocked: the full (npts, nedges)
    # float64 matrix is ~70 MB for a 256px tile against a 128-edge ring and
    # the kernel becomes memory-bandwidth-bound (measured: the un-blocked
    # version capped multi-worker scaling at ~0.75/4x where compute-bound
    # kernels reach ~0.87 on this host). 2048-point chunks keep every
    # temporary ~2 MB (L2-resident); identical math/rounding, so boundary
    # semantics and every oracle stay bit-identical.
    n = len(px)
    out = np.empty(n, dtype=bool)
    dx = (x2 - x1)[None, :]
    dy = (y2 - y1)[None, :]
    step = 2048
    for s in range(0, n, step):
        pyc = py[s : s + step, None]
        pxc = px[s : s + step, None]
        cond = (y1[None, :] > pyc) != (y2[None, :] > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = dx * (pyc - y1[None, :]) / dy + x1[None, :]
        crossed = cond & (pxc < xint)
        out[s : s + step] = (crossed.sum(axis=1) % 2).astype(bool)
    return out


def pixel_center_mask(xmin, ymin, xmax, ymax, w: int, h: int, ring) -> np.ndarray:
    """(h, w) mask of a tile's pixel CENTERS inside the geometry: pixel
    ``(i, j)`` of a ``w x h`` tile over extent ``[xmin, xmax) x [ymin,
    ymax)`` is tested at ``(xmin + (i + 0.5) * sx, ymin + (j + 0.5) * sy)``
    with ``sx = (xmax - xmin) / w``. The one pixel-center ray cast of
    ``rasterize_polygons`` and the zonal refines, so a burned pixel and a
    zonal pixel are the same pixel."""
    sx = (xmax - xmin) / w
    sy = (ymax - ymin) / h
    cx = xmin + (np.arange(w) + 0.5) * sx
    cy = ymin + (np.arange(h) + 0.5) * sy
    gx, gy = np.meshgrid(cx, cy)
    return points_in_polygon(gx.ravel(), gy.ravel(), ring).reshape(h, w)


def _edges_cross_rects(edges, rx0, ry0, rx1, ry1) -> np.ndarray:
    """Per rect: does any edge ``(ax, ay, bx, by)`` intersect the closed
    axis-aligned rect? (Cohen-style tests, broadcast (rects x edges).)

    The endpoint-inside term is also the vertex-in-cell test: every vertex
    starts one edge, and an edge with an endpoint in the rect is never
    bbox-rejected."""
    ax, ay, bx, by = (e[None, :] for e in edges)
    rx0, ry0, rx1, ry1 = (np.asarray(v, dtype=np.float64)[:, None] for v in (rx0, ry0, rx1, ry1))
    # quick reject: edge bbox disjoint from rect
    cand = ~(
        (np.maximum(ax, bx) < rx0)
        | (np.minimum(ax, bx) > rx1)
        | (np.maximum(ay, by) < ry0)
        | (np.minimum(ay, by) > ry1)
    )
    # endpoint inside rect?
    hit = (ax >= rx0) & (ax <= rx1) & (ay >= ry0) & (ay <= ry1)
    # segment straddles one of the rect's 4 edge lines within the rect span
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
        hit |= ((d1 * d2) < 0) & ((d3 * d4) < 0)
    return (cand & hit).any(axis=1)


def _segments_intersect_rect(ring, rx0, ry0, rx1, ry1) -> bool:
    """Does any edge of the geometry intersect the axis-aligned rect?
    The one-rect case of ``_edges_cross_rects`` (``ring`` takes any
    ``as_rings`` shape)."""
    edges = _ring_edges(as_rings(ring))
    return bool(_edges_cross_rects(edges, [rx0], [ry0], [rx1], [ry1])[0])


def _cover_descent(rings: list[np.ndarray], res: int, world: float) -> tuple[np.ndarray, np.ndarray]:
    """Level-synchronous quadtree descent over a geometry's ring list:
    ``(cells, is_full)`` sorted by cell. Each step classifies every
    candidate cell of one resolution at once:

    - cell fully inside          -> keep at current res, ``is_full`` (for
      holed polygons: inside the outer AND outside every hole — the
      even-odd corner test plus the no-edge/no-vertex guard over ALL
      rings give exactly that)
    - cell disjoint              -> drop (this includes cells wholly inside
      a HOLE: all four corners test outside under even-odd, and no hole
      edge crosses the cell)
    - partial                    -> its four children are the next step's
      candidates until ``res``; intersecting leaves are kept, not
      ``is_full``
    """
    edges = _ring_edges(rings)
    allv = np.concatenate(rings)
    bx0, by0 = allv[:, 0].min(), allv[:, 1].min()
    bx1, by1 = allv[:, 0].max(), allv[:, 1].max()
    # bound each (cells x edges) temporary to ~2 MB
    chunk = max(1, (1 << 18) // len(edges[0]))
    cells_out = [np.zeros(0, dtype=np.int64)]
    full_out = [np.zeros(0, dtype=bool)]
    ix = iy = np.zeros(1, dtype=np.int64)
    for r in range(res + 1):
        size = world / (1 << r)
        x0, y0 = ix * size, iy * size
        x1, y1 = x0 + size, y0 + size
        live = ~((x1 <= bx0) | (x0 >= bx1) | (y1 <= by0) | (y0 >= by1))
        ix, iy, x0, y0, x1, y1 = (a[live] for a in (ix, iy, x0, y0, x1, y1))
        if not len(ix):
            break
        corners = points_in_polygon(
            np.concatenate([x0, x1, x1, x0]), np.concatenate([y0, y0, y1, y1]), rings
        ).reshape(4, -1)
        edge_hit = np.concatenate([
            _edges_cross_rects(edges, *(a[s : s + chunk] for a in (x0, y0, x1, y1)))
            for s in range(0, len(ix), chunk)
        ])
        full = corners.all(axis=0) & ~edge_hit
        partial = ~full & (corners.any(axis=0) | edge_hit)
        cells_out.append(xy_to_cell(ix[full], iy[full], r))
        full_out.append(np.ones(int(full.sum()), dtype=bool))
        if r == res:
            cells_out.append(xy_to_cell(ix[partial], iy[partial], r))
            full_out.append(np.zeros(int(partial.sum()), dtype=bool))
            break
        px, py = 2 * ix[partial], 2 * iy[partial]
        ix = np.concatenate([px, px + 1, px, px + 1])
        iy = np.concatenate([py, py, py + 1, py + 1])
    cells, is_full = np.concatenate(cells_out), np.concatenate(full_out)
    order = np.argsort(cells)
    return cells[order], is_full[order]


def polygon_to_cells_classified(
    ring, res: int, world: float
) -> tuple[np.ndarray, np.ndarray]:
    """Compact cover split into (cells, is_full) where ``is_full`` marks cells
    entirely inside the geometry — the descent's own verdict, so no cover
    cell is tested twice.

    The distinction drives the filter+refine join (J3): points in *full*
    cells are inside with no ray-cast at all — at scale that's the vast
    majority, so the exact test runs only on the boundary shell.
    """
    return _cover_descent(as_rings(ring), res, world)


def polygon_to_cells(ring, res: int, world: float, compact: bool = True) -> np.ndarray:
    """Compact cover of a geometry (any ``as_rings`` shape): the cells of
    ``polygon_to_cells_classified``.

    The cover is a superset of the geometry (leaf cells may only partially
    overlap) — callers refine with exact ray casting (filter+refine join J3).
    """
    cells = polygon_to_cells_classified(ring, res, world)[0]
    if not compact and len(cells):
        lo, hi = cell_range(cells, res)
        # expand everything to res leaves (ranges are contiguous)
        leaves = np.concatenate([np.arange(a, b + 1, dtype=np.int64) for a, b in zip(lo, hi)])
        return np.unique(leaves)
    return cells
