"""region_label (regions.region_label): distributed connected-component
labeling over pyramid tiles — per-tile run union-find + boundary-strip
stitch + pointer-doubled global resolve. Oracle: brute-force BFS over the
assembled plane in pure python.
"""

from collections import deque

import numpy as np
import pytest

from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
from pyramidscheme_jl_spark.operators.regions import region_label
from pyramidscheme_jl_spark.sources.catalog import write_level_driver, write_multiscales


def _brute_regions(a: np.ndarray, connectivity: int = 4):
    """BFS labeling; returns {region_id: (value, n, xmin, ymin, xmax, ymax)}
    with region_id = row-major index of the first pixel."""
    h, w = a.shape
    seen = np.zeros((h, w), dtype=bool)
    if connectivity == 4:
        nbrs = ((0, 1), (0, -1), (1, 0), (-1, 0))
    else:
        nbrs = tuple((dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx)
    out = {}
    for y in range(h):
        for x in range(w):
            if seen[y, x] or np.isnan(a[y, x]):
                continue
            v = a[y, x]
            q = deque([(y, x)])
            seen[y, x] = True
            px = []
            while q:
                cy, cx = q.popleft()
                px.append((cy, cx))
                for dy, dx in nbrs:
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and a[ny, nx] == v:
                        seen[ny, nx] = True
                        q.append((ny, nx))
            ys = [p[0] for p in px]
            xs = [p[1] for p in px]
            out[y * w + x] = (float(v), len(px), min(xs), min(ys), max(xs), max(ys))
    return out


def _write_plane(spark, a: np.ndarray, path: str, ts: int) -> None:
    h, w = a.shape
    spec = PyramidSpec(w, h, ts)
    rows = []
    for ty in range(-(-h // ts)):
        for tx in range(-(-w // ts)):
            tile = a[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
            rows.append(_tile_row(spec, 0, tx, ty, tile))
    write_level_driver(_rows_to_pdf(rows).to_dict("records"), path, 0)
    write_multiscales(path, 0, ts, w, h, "none", "-")


def _collect(df):
    return {
        int(r.region_id): (
            float(r.value), int(r.n_px),
            int(r.xmin), int(r.ymin), int(r.xmax), int(r.ymax),
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def plane():
    """A 96x80 plane with regions engineered to cross the 32px tile grid:
    nested frames, a diagonal-only chain, a snake spanning many tiles,
    NaN background, plus pseudo-random speckle."""
    rng = np.random.RandomState(11)
    a = np.full((80, 96), np.nan)
    a[2:40, 2:60] = 1.0           # big rect across tiles
    a[10:20, 10:50] = 2.0         # hole punched in it (same-value ring stays connected)
    a[50:80, 0:96] = 3.0          # full-width band
    a[55:60, 20:90] = 4.0         # stripe inside the band
    # diagonal chain crossing a tile corner at (32, 32): connects iff 8-conn
    for i in range(8):
        a[28 + i, 28 + i] = 7.0
    # speckle quadrant with few distinct values -> many random regions
    a[0:32, 64:96] = rng.randint(0, 3, size=(32, 32)).astype(np.float64)
    return a


@pytest.fixture(scope="module")
def plane_path(spark, plane, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("regions") / "pyr")
    _write_plane(spark, plane, path, ts=32)
    return path


@pytest.mark.parametrize("conn", [4, 8])
def test_region_label_matches_bfs(spark, plane, plane_path, conn):
    got = _collect(region_label(spark, plane_path, z=0, connectivity=conn))
    want = _brute_regions(plane, conn)
    assert got == want


def test_connectivity_difference_is_real(plane):
    """The fixture genuinely distinguishes 4- from 8-connectivity."""
    assert len(_brute_regions(plane, 4)) > len(_brute_regions(plane, 8))


def test_single_region_spanning_all_tiles(spark, tmp_path):
    a = np.full((64, 64), 5.0)
    path = str(tmp_path / "pyr")
    _write_plane(spark, a, path, ts=16)  # 4x4 tiles, one region
    got = _collect(region_label(spark, path, z=0))
    assert got == {0: (5.0, 64 * 64, 0, 0, 63, 63)}


def test_all_nodata_yields_empty(spark, tmp_path):
    a = np.full((32, 32), np.nan)
    path = str(tmp_path / "pyr")
    _write_plane(spark, a, path, ts=16)
    assert region_label(spark, path, z=0).count() == 0


def test_validation(spark, plane_path):
    with pytest.raises(ValueError, match="connectivity"):
        region_label(spark, plane_path, connectivity=6)
    with pytest.raises(ValueError, match="out of range"):
        region_label(spark, plane_path, z=5)


@pytest.mark.parametrize("conn", [4, 8])
def test_region_label_raster_matches_bfs_plane(spark, plane, plane_path, conn):
    """The labeled-raster output: per-pixel region ids equal the BFS
    labeling plane exactly (nodata = -1), ids shared with region_label."""
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.regions import region_label_raster

    h, w = plane.shape
    want = np.full((h, w), -1, dtype=np.int64)
    # replay: BFS again but painting labels
    seen = np.zeros((h, w), dtype=bool)
    if conn == 4:
        nbrs = ((0, 1), (0, -1), (1, 0), (-1, 0))
    else:
        nbrs = tuple((dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx)
    for y in range(h):
        for x in range(w):
            if seen[y, x] or np.isnan(plane[y, x]):
                continue
            v, rid = plane[y, x], y * w + x
            q = deque([(y, x)])
            seen[y, x] = True
            while q:
                cy, cx = q.popleft()
                want[cy, cx] = rid
                for dy, dx in nbrs:
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and plane[ny, nx] == v:
                        seen[ny, nx] = True
                        q.append((ny, nx))
    got = np.full((h, w), -1, dtype=np.int64)
    rows = region_label_raster(spark, plane_path, z=0, connectivity=conn).collect()
    for r in rows:
        assert r.dtype == "int64"
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c)
        got[r.ty * 32 : r.ty * 32 + r.h, r.tx * 32 : r.tx * 32 + r.w] = a
    np.testing.assert_array_equal(got, want)


def _brute_plane_labels(a: np.ndarray, conn: int) -> np.ndarray:
    h, w = a.shape
    lab = np.full((h, w), -1, dtype=np.int64)
    seen = np.zeros((h, w), dtype=bool)
    if conn == 4:
        nbrs = ((0, 1), (0, -1), (1, 0), (-1, 0))
    else:
        nbrs = tuple((dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx)
    for y in range(h):
        for x in range(w):
            if seen[y, x] or np.isnan(a[y, x]):
                continue
            v, rid = a[y, x], y * w + x
            q = deque([(y, x)])
            seen[y, x] = True
            while q:
                cy, cx = q.popleft()
                lab[cy, cx] = rid
                for dy, dx in nbrs:
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and a[ny, nx] == v:
                        seen[ny, nx] = True
                        q.append((ny, nx))
    return lab


def _brute_adjacency(lab: np.ndarray) -> dict:
    """4-adjacent pixel-pair counts between different labeled regions."""
    acc = {}
    h, w = lab.shape
    for (a, b) in (
        (lab[:, :-1].ravel(), lab[:, 1:].ravel()),
        (lab[:-1, :].ravel(), lab[1:, :].ravel()),
    ):
        m = (a != b) & (a >= 0) & (b >= 0)
        for x, y in zip(a[m].tolist(), b[m].tolist()):
            k = (min(x, y), max(x, y))
            acc[k] = acc.get(k, 0) + 1
    return acc


@pytest.mark.parametrize("conn", [4, 8])
def test_region_adjacency_matches_brute_force(spark, plane, plane_path, conn):
    from pyramidscheme_jl_spark.operators.regions import region_adjacency

    got = {
        (int(r.rid_a), int(r.rid_b)): int(r.contact)
        for r in region_adjacency(spark, plane_path, z=0, connectivity=conn).collect()
    }
    want = _brute_adjacency(_brute_plane_labels(plane, conn))
    assert got == want


@pytest.mark.parametrize("conn", [4, 8])
def test_region_sieve_matches_replay(spark, plane, plane_path, conn):
    """Single-pass sieve rule replayed in python: small regions with a
    large max-contact neighbor take that neighbor's value; others stay.
    Regions form under ``conn``; contact stays 4-edge."""
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.regions import region_sieve

    min_px = 60
    lab = _brute_plane_labels(plane, conn)
    adj = _brute_adjacency(lab)
    sizes = {int(r): int((lab == r).sum()) for r in np.unique(lab) if r >= 0}
    values = {int(r): float(plane[lab == r][0]) for r in sizes}
    # replay the rule
    nbr_best = {}
    for (a, b), c in adj.items():
        for me, other in ((a, b), (b, a)):
            if sizes[me] < min_px and sizes[other] >= min_px:
                cur = nbr_best.get(me)
                if cur is None or (c, -other) > (cur[0], -cur[1]):
                    nbr_best[me] = (c, other)
    want = plane.astype(np.float64).copy()
    for me, (_, other) in nbr_best.items():
        want[lab == me] = values[other]

    h, w = plane.shape
    got = np.full((h, w), np.nan)
    for r in region_sieve(spark, plane_path, min_px=min_px, z=0,
                          connectivity=conn).collect():
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
        got[r.ty * 32 : r.ty * 32 + r.h, r.tx * 32 : r.tx * 32 + r.w] = a
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    np.testing.assert_array_equal(got[m], want[m])


def test_region_sieve_validation(spark, plane_path):
    from pyramidscheme_jl_spark.operators.regions import region_sieve

    with pytest.raises(ValueError, match="min_px"):
        region_sieve(spark, plane_path, min_px=0)


# ---------------------------------------------------------------------------
# region_stats (r8): polygonize attribute table with exact centroids
# ---------------------------------------------------------------------------


def _brute_region_stats(a: np.ndarray, connectivity: int = 4):
    h, w = a.shape
    lab = _brute_plane_labels(a, connectivity)
    out = {}
    for rid in np.unique(lab[lab >= 0]):
        ys, xs = np.where(lab == rid)
        n = int(ys.size)
        out[int(rid)] = (
            float(a[ys[0], xs[0]]), n,
            int(xs.min()), int(ys.min()), int(xs.max()), int(ys.max()),
            int(xs.sum()), int(ys.sum()),
            float(int(xs.sum())) / n, float(int(ys.sum())) / n,
        )
    return out


@pytest.mark.parametrize("conn", [4, 8])
def test_region_stats_matches_bfs(spark, plane, plane_path, conn):
    from pyramidscheme_jl_spark.operators.regions import region_stats

    rows = region_stats(spark, plane_path, z=0, connectivity=conn).collect()
    got = {
        int(r.region_id): (
            float(r.value), int(r.n_px),
            int(r.xmin), int(r.ymin), int(r.xmax), int(r.ymax),
            int(r.sum_x), int(r.sum_y),
            float(r.centroid_x), float(r.centroid_y),
        )
        for r in rows
    }
    want = _brute_region_stats(plane, conn)
    assert set(got) == set(want)
    for rid in want:
        assert got[rid] == want[rid], (rid, got[rid], want[rid])  # exact incl. centroid


def test_region_stats_consistent_with_region_label(spark, plane_path):
    from pyramidscheme_jl_spark.operators.regions import region_stats

    lbl = _collect(region_label(spark, plane_path, z=0))
    rows = region_stats(spark, plane_path, z=0).collect()
    assert {int(r.region_id): (
        float(r.value), int(r.n_px), int(r.xmin), int(r.ymin),
        int(r.xmax), int(r.ymax)) for r in rows} == lbl


@pytest.mark.parametrize("conn", [4, 8])
def test_region_stats_perimeter_matches_bfs(spark, plane, plane_path, conn):
    """perimeter = per-pixel (4 - same-region 4-neighbors) summed — the
    brute counts directly on the labeled plane; engine decomposes into
    run/self-join/seam terms. 8-conn pins that edge length stays 4-edge
    while the regions themselves merge diagonally."""
    from pyramidscheme_jl_spark.operators.regions import region_stats

    rows = region_stats(spark, plane_path, z=0, connectivity=conn,
                        perimeter=True).collect()
    got = {int(r.region_id): int(r.perimeter) for r in rows}
    lab = _brute_plane_labels(plane, conn)
    want = {}
    h, w = lab.shape
    for rid in np.unique(lab[lab >= 0]):
        m = lab == rid
        p = 0
        for dy, dx in ((0, 1), (1, 0)):
            same = m[max(0, dy):h, max(0, dx):w] & m[0:h - dy, 0:w - dx]
            p += int(same.sum())
        want[int(rid)] = 4 * int(m.sum()) - 2 * p
    assert got == want


def test_region_stats_perimeter_singleton(spark, tmp_path):
    a = np.full((64, 64), np.nan)
    a[10, 10] = 5.0                       # lone pixel: P = 4
    a[0:64, 20:22] = 6.0                  # full-height 2-wide bar
    path = str(tmp_path / "pyr")
    _write_plane(spark, a, path, ts=32)
    from pyramidscheme_jl_spark.operators.regions import region_stats

    rows = region_stats(spark, path, z=0, perimeter=True).collect()
    by_val = {float(r.value): int(r.perimeter) for r in rows}
    assert by_val[5.0] == 4
    assert by_val[6.0] == 2 * (64 + 2)  # raster border counts as boundary


# ---------------------------------------------------------------------------
# one region scan: the distributed resolve tier and the decode-once plan
# ---------------------------------------------------------------------------


def _all_region_outputs(spark, path, **kw):
    from pyramidscheme_jl_spark.operators.regions import (
        region_adjacency,
        region_label_raster,
        region_sieve,
        region_stats,
    )

    ops = {
        "label": region_label(spark, path, **kw),
        "raster": region_label_raster(spark, path, **kw),
        "adjacency": region_adjacency(spark, path, **kw),
        "sieve": region_sieve(spark, path, min_px=60, **kw),
        "perimeter": region_stats(spark, path, perimeter=True, **kw),
    }
    return {k: sorted((tuple(r) for r in df.collect()), key=repr) for k, df in ops.items()}


def test_region_ops_distributed_resolve_tier(spark, plane_path):
    """``driver_resolve_max_edges=0`` sends the stitch graph through the
    distributed connected-components loop; every region operator gives
    the same rows (tiles: bytes and all metadata) as the driver tier."""
    driver = _all_region_outputs(spark, plane_path, connectivity=4)
    dist = _all_region_outputs(
        spark, plane_path, connectivity=4, driver_resolve_max_edges=0
    )
    assert all(driver.values())
    assert dist == driver


def test_region_ops_decode_the_level_once(spark, plane_path):
    """Only the checkpointed region scan decodes tiles: the operators
    that place pixels read its run rows, so their plans hold no second
    tile-decoding ``MapInPandas`` stage."""
    from pyramidscheme_jl_spark.operators.regions import (
        region_label_raster,
        region_sieve,
        region_stats,
    )

    for df in (
        region_label_raster(spark, plane_path),
        region_sieve(spark, plane_path, min_px=60),
        region_stats(spark, plane_path),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, plan
        assert "ExistingRDD" in plan, plan


def test_region_sieve_runs_no_job_beyond_the_shared_resolve(spark, plane_path, tmp_path):
    """The sieve casts each tile back to the dtype its run rows carry from
    the scan, so building it runs the same call-time jobs as
    ``region_label_raster`` (the checkpointed scan and the resolve) and
    no extra read of the level; a fully covered uint8 raster stays uint8."""
    from pyramidscheme_jl_spark.operators.regions import region_label_raster, region_sieve

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name, call in (
            ("raster", lambda: region_label_raster(spark, plane_path)),
            ("sieve", lambda: region_sieve(spark, plane_path, min_px=60)),
        ):
            sc.setJobGroup(f"sieve-jobs-{name}", name)
            call()
            jobs[name] = len(tracker.getJobIdsForGroup(f"sieve-jobs-{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["sieve"] == jobs["raster"], jobs

    a = np.random.RandomState(3).randint(0, 3, size=(40, 48)).astype(np.uint8)
    path = str(tmp_path / "u8")
    _write_plane(spark, a, path, ts=16)
    rows = region_sieve(spark, path, min_px=4).collect()
    assert len(rows) == 9 and {r.dtype for r in rows} == {"uint8"}
