"""Raster zonal statistics (joins.zonal_raster): per-polygon PIXEL
aggregates over a built pyramid level — filter+refine at tile granularity
(pushed cell-range scan, stats-only interior tiles, decoded boundary
shell). Brute-force oracle: numpy ray-cast over the closed-form mosaic.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramidscheme_jl_spark.functions.cells import points_in_polygon
from pyramidscheme_jl_spark.operators.build import build_pyramid
from pyramidscheme_jl_spark.operators.joins import zonal_raster
from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, image_pixels, synth_images

G, SIZE = 4, 64  # 256x256 base, 4x4 tiles of 64


@pytest.fixture(scope="module")
def pyr_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("zonal") / "pyr")
    images = spark.createDataFrame(synth_images(G=G, size=SIZE), IMAGES_DDL)
    build_pyramid(spark, images, path, G=G, reducer="mean", tilesize=SIZE, run_id="t")
    return path


def _base() -> np.ndarray:
    b = np.zeros((G * SIZE, G * SIZE), dtype=np.float64)
    for gy in range(G):
        for gx in range(G):
            b[gy * SIZE : (gy + 1) * SIZE, gx * SIZE : (gx + 1) * SIZE] = image_pixels(
                gx, gy, SIZE
            )
    return b


def _brute(plane: np.ndarray, ring, scale: float) -> dict:
    """Aggregates of plane pixels whose CENTERS (world px) fall in ring;
    a level-z pixel spans ``scale`` base px."""
    h, w = plane.shape
    cx = (np.arange(w) + 0.5) * scale
    cy = (np.arange(h) + 0.5) * scale
    gx, gy = np.meshgrid(cx, cy)
    m = points_in_polygon(gx.ravel(), gy.ravel(), np.asarray(ring, dtype=np.float64))
    v = plane.ravel()[m]
    return {"n": int(m.sum()), "s": float(v.sum()), "mn": float(v.min()), "mx": float(v.max())}


# a CONCAVE simple polygon (arrow head) — the operator is not convex-only —
# plus a small convex quad inside one tile and one with full interior tiles
RINGS = {
    "arrow": [(20.0, 30.0), (200.0, 40.0), (120.0, 90.0), (210.0, 200.0), (30.0, 170.0)],
    "quad": [(10.0, 10.0), (50.0, 14.0), (46.0, 52.0), (12.0, 44.0)],
    "big": [(30.0, 20.0), (235.0, 46.0), (230.0, 150.0), (100.0, 240.0), (20.0, 150.0)],
}


def _polys():
    return [{"polygon_id": k, "ring": [list(v) for v in r]} for k, r in RINGS.items()]


def test_zonal_raster_base_level_matches_brute_force(spark, pyr_path):
    got = {r["polygon_id"]: r for r in zonal_raster(spark, pyr_path, _polys(), z=0).collect()}
    base = _base()
    for pid, ring in RINGS.items():
        want = _brute(base, ring, 1.0)
        g = got[pid]
        # integer-valued pixel sums are exact in float64 regardless of
        # addition order — equality is exact, not approximate
        assert (g["n_px"], g["sum_px"], g["min_px"], g["max_px"]) == (
            want["n"], want["s"], want["mn"], want["mx"],
        ), pid
        assert g["mean_px"] == want["s"] / want["n"]


def test_zonal_raster_level1_float_tiles(spark, pyr_path):
    """z=1 tiles are float64 means — the stats fast path must NOT apply
    (nanmean hides the count); everything decodes, still exact: level-1
    pixels are dyadic rationals, so sums are order-independent."""
    got = {r["polygon_id"]: r for r in zonal_raster(spark, pyr_path, _polys(), z=1).collect()}
    base = _base()
    lvl1 = base.reshape(base.shape[0] // 2, 2, base.shape[1] // 2, 2).mean(axis=(1, 3))
    for pid, ring in RINGS.items():
        want = _brute(lvl1, ring, 2.0)
        g = got[pid]
        assert (g["n_px"], g["sum_px"], g["min_px"], g["max_px"]) == (
            want["n"], want["s"], want["mn"], want["mx"],
        ), pid


def test_zonal_raster_plan_prunes_bytes_and_pushes_cells(spark, pyr_path):
    """The scale contract: the interior branch's parquet scan must not
    materialize the pixel payload, and the cover must reach the scan as
    pushed cell-range predicates (row-group pruning via the Morton layout)."""
    df = zonal_raster(spark, pyr_path, _polys(), z=0)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b and "ReadSchema" in b]
    assert len(scans) >= 2
    assert any("bytes" not in s for s in scans), "no metadata-only interior scan"
    assert all("GreaterThanOrEqual(cell," in s for s in scans), "cover not pushed to scan"


def test_zonal_raster_disjoint_polygon_yields_no_row(spark, pyr_path):
    polys = [{"polygon_id": "off", "ring": [[300.0, 300.0], [340.0, 304.0], [320.0, 340.0]]}]
    # world is padded to 256 — a ring beyond the data extent covers nothing
    assert zonal_raster(spark, pyr_path, polys, z=0).count() == 0


def test_zonal_raster_level_out_of_range(spark, pyr_path):
    with pytest.raises(ValueError, match="out of range"):
        zonal_raster(spark, pyr_path, _polys(), z=99)


def test_zonal_raster_rejects_duplicate_polygon_id(spark, pyr_path):
    """A repeated ``polygon_id`` raises at call time instead of refining
    one polygon's boundary tiles against another polygon's rings."""
    polys = _polys()
    dup = [*polys, {**polys[1], "polygon_id": polys[0]["polygon_id"]}]
    with pytest.raises(ValueError, match="duplicate polygon_id"):
        zonal_raster(spark, pyr_path, dup, z=0)


def test_oracle_rings_parity_guard():
    """The DuckDB oracle's strict half-plane test is exact only because no
    pixel center can lie on an edge: every fixture edge has dx+dy odd (the
    doubled cross product is odd, hence nonzero). Pin the property and the
    builder's guard."""
    import __spark_entry__ as E

    for ring in (E._ZONAL_RING_P1, E._ZONAL_RING_P2, E._ZONAL_RING_P3):
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            assert ((x2 - x1) + (y2 - y1)) % 2 == 1, (ring, i)
        E._zonal_halfplane_sql(ring)  # must not raise
    with pytest.raises(ValueError, match="even dx\\+dy"):
        E._zonal_halfplane_sql([(0, 0), (10, 0), (5, 7)])
    with pytest.raises(ValueError, match="convex"):
        E._zonal_halfplane_sql([(0, 0), (5, 7), (10, 0)])  # CW


def test_raster_extract_matches_brute_force(spark, pyr_path):
    from pyramidscheme_jl_spark.operators.joins import raster_extract

    base = _base()
    rng = np.random.RandomState(11)
    pts = [(f"p{i}", float(rng.uniform(0, G * SIZE)), float(rng.uniform(0, G * SIZE)))
           for i in range(300)]
    # boundary semantics: just-inside kept, on/over the max edge and
    # negative coordinates dropped (outside the half-open data extent)
    pts += [("edge", G * SIZE - 1e-3, 1e-3), ("out", float(G * SIZE), 0.0), ("neg", -0.5, 3.0)]
    df = spark.createDataFrame(pts, "point_id string, x double, y double")
    got = {r["point_id"]: r["value"] for r in raster_extract(spark, pyr_path, df, z=0).collect()}
    n = G * SIZE
    for pid, x, y in pts:
        ix, iy = int(np.floor(x)), int(np.floor(y))
        if 0 <= ix < n and 0 <= iy < n:
            assert got[pid] == base[iy, ix], (pid, x, y)
        else:
            assert pid not in got, pid
    assert "edge" in got and "out" not in got and "neg" not in got


def test_raster_extract_level1_and_pushdown(spark, pyr_path):
    """z=1 gathers the mean-level pixels (dyadic exact); a sparse probe
    set pushes its touched cells into the tile scan as an IN filter."""
    from pyramidscheme_jl_spark.operators.joins import raster_extract

    base = _base()
    lvl1 = base.reshape(base.shape[0] // 2, 2, base.shape[1] // 2, 2).mean(axis=(1, 3))
    pts = [("a", 10.0, 10.0), ("b", 130.0, 70.0), ("c", 255.0, 255.0)]
    df = spark.createDataFrame(pts, "point_id string, x double, y double")
    # r9 default path for a sparse probe: tiles ride a python broadcast —
    # the returned plan must be a single point-scan + MapInPandas with NO
    # tile scan (tile pruning happened in the driver-side collect)
    res = raster_extract(spark, pyr_path, df, z=1)
    got = {r["point_id"]: r["value"] for r in res.collect()}
    for pid, x, y in pts:
        assert got[pid] == lvl1[int(y // 2), int(x // 2)], pid
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "MapInPandas" in plan
    tile_scans = [b for b in plan.split("\n\n") if "Scan parquet" in b and "bytes" in b]
    assert not tile_scans, "broadcast-tiles path must not re-scan tiles"
    # legacy join path (probe above broadcast_tiles_max): touched cells
    # push into the tile scan as an IN filter
    res_join = raster_extract(spark, pyr_path, df, z=1, broadcast_tiles_max=0)
    assert {r["point_id"]: r["value"] for r in res_join.collect()} == got
    plan = res_join._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tile_scans = [b for b in plan.split("\n\n") if "Scan parquet" in b and "bytes" in b]
    assert tile_scans and all("In(cell, [" in s for s in tile_scans), (
        "touched cells not pushed into the tile scan"
    )
    # and the probe-set cap disables pushdown without changing results
    res_nopush = raster_extract(spark, pyr_path, df, z=1, max_pushdown_cells=1)
    got2 = {r["point_id"]: r["value"] for r in res_nopush.collect()}
    assert got2 == got


def test_zonal_cube_per_t_matches_brute_force(spark, tmp_path):
    """Cube zonal: per-(polygon, t) aggregates over a batch-built cube —
    the t axis rides the group keys; values per slice differ so a t mixup
    cannot cancel out."""
    from pyramidscheme_jl_spark.functions.codec import encode_tile
    from pyramidscheme_jl_spark.operators.cube import build_cube
    from pyramidscheme_jl_spark.operators.joins import zonal_cube

    n = 2 * SIZE  # G=2 mosaic of 64px slices
    rows = []
    for t in (0, 1):
        for i in range(4):
            gx, gy = i % 2, i // 2
            img = ((image_pixels(gx, gy, SIZE).astype(np.int64) + 7 * t) % 256).astype(np.uint8)
            rows.append({"image_id": f"img-{i:08d}", "bytes": encode_tile(img),
                         "w": SIZE, "h": SIZE, "fmt": "raw", "caption": "", "phash": 0,
                         "t": t})
    images = spark.createDataFrame(rows, IMAGES_DDL + ", t int")
    path = str(tmp_path / "cube")
    build_cube(spark, images, path, G=2, reducer="mean", tilesize=SIZE, run_id="zc")

    ring = [[10.0, 12.0], [100.0, 20.0], [90.0, 110.0], [20.0, 100.0]]
    got = {
        (r["polygon_id"], r["t"]): r
        for r in zonal_cube(spark, path, [{"polygon_id": "q", "ring": ring}], z=0).collect()
    }
    assert set(got) == {("q", 0), ("q", 1)}
    ys, xs = np.mgrid[0:n, 0:n]
    m = points_in_polygon(xs.ravel() + 0.5, ys.ravel() + 0.5, np.asarray(ring)).reshape(n, n)
    for t in (0, 1):
        plane = np.zeros((n, n))
        for gy in range(2):
            for gx in range(2):
                plane[gy * SIZE : (gy + 1) * SIZE, gx * SIZE : (gx + 1) * SIZE] = (
                    image_pixels(gx, gy, SIZE).astype(np.int64) + 7 * t
                ) % 256
        v = plane[m]
        g = got[("q", t)]
        assert (g["n_px"], g["sum_px"], g["min_px"], g["max_px"]) == (
            int(m.sum()), v.sum(), v.min(), v.max(),
        ), t


def test_zonal_int64_tiles_route_to_decode_tier(spark):
    """ADVICE r6: the stats-only interior tier recovers the pixel sum as
    round(vmean*w*h) — exact only while the true sum fits double's 53-bit
    mantissa, so 64-bit integer tiles must DECODE instead. Detection: a
    full-interior tile whose stored vmean deliberately LIES. int32 (fast
    path trusts metadata) reproduces the lie; int64 (decode tier reads
    pixels) reports the truth."""
    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from pyramidscheme_jl_spark.operators.joins import _zonal_over_tiles
    from pyramidscheme_jl_spark.sources.catalog import TILE_SCHEMA

    spec = PyramidSpec(4 * SIZE, 4 * SIZE, SIZE)
    # a polygon covering tile (1,1) entirely (full-interior cover cells)
    ring = [(60.0, 60.0), (196.0, 62.0), (194.0, 196.0), (62.0, 194.0)]
    polys = [{"polygon_id": "p", "ring": [list(v) for v in ring]}]

    def tiles_df(dtype):
        rows = []
        for ty in range(4):
            for tx in range(4):
                arr = np.full((SIZE, SIZE), 7, dtype=dtype)
                row = _tile_row(spec, 0, tx, ty, arr)
                row["vmean"] = 999.0  # the lie tier 2 would trust
                rows.append(row)
        sdf = spark.createDataFrame(_rows_to_pdf(rows), TILE_SCHEMA)
        return sdf.withColumn("z", F.lit(0).cast("int"))

    res_z = spec.cell_res(0)
    got64 = _zonal_over_tiles(spark, tiles_df(np.int64), spec, polys, res_z).collect()[0]
    got32 = _zonal_over_tiles(spark, tiles_df(np.int32), spec, polys, res_z).collect()[0]
    # decode tier: every counted pixel is 7
    assert got64["mean_px"] == pytest.approx(7.0)
    # tier-2 rows exist for int32 (interior tiles trusted the lie), so the
    # blended mean must exceed the truth — proving the fast path ran there
    assert got32["mean_px"] > 7.0
    assert got64["n_px"] == got32["n_px"]


def test_zonal_raster_holed_multipolygon(spark, pyr_path):
    """r7: zonal over [outer-with-hole] + disjoint part vs the brute-force
    pixel mask; also pins that hole pixels subtract from the single-ring
    result (the hole is not a no-op)."""
    hole = [(80.0, 80.0), (150.0, 80.0), (150.0, 150.0), (80.0, 150.0)]
    tri = [(10.0, 220.0), (40.0, 225.0), (15.0, 250.0)]
    geom = [[[list(v) for v in RINGS["big"]], [list(v) for v in hole]],
            [[list(v) for v in tri]]]
    res = zonal_raster(
        spark, pyr_path, [{"polygon_id": "mph", "ring": geom}], z=0
    ).collect()
    assert len(res) == 1
    got = res[0]
    base = _base()
    want = _brute_rings(base, [RINGS["big"], hole, tri], 1.0)
    assert got["n_px"] == want["n"]
    assert got["sum_px"] == pytest.approx(want["s"])
    assert got["min_px"] == want["mn"] and got["max_px"] == want["mx"]
    solo = _brute(base, RINGS["big"], 1.0)
    assert want["n"] < solo["n"]  # the hole really removed pixels


def _brute_rings(plane, rings, scale):
    h, w = plane.shape
    cx = (np.arange(w) + 0.5) * scale
    cy = (np.arange(h) + 0.5) * scale
    gx, gy = np.meshgrid(cx, cy)
    m = points_in_polygon(gx.ravel(), gy.ravel(), [np.asarray(r, dtype=np.float64) for r in rings])
    v = plane.ravel()[m]
    return {"n": int(m.sum()), "s": float(v.sum()), "mn": float(v.min()), "mx": float(v.max())}


def test_raster_extract_hot_cell_salting(spark, pyr_path):
    """VERDICT r6 #2: a cell holding far more points than the gather
    budget must split over salt buckets instead of one unbounded
    collect_list row. 4096 points land in ONE tile with budget=500
    (nsalt=ceil(4096/500)=9, capped 16); values must equal the unsalted
    run and the closed-form pixel truth."""
    from pyspark.sql import functions as F

    from pyramidscheme_jl_spark.operators.joins import raster_extract

    base = _base()
    # all points inside tile (0,0): x,y in [0, 64); plus a handful elsewhere
    rows = [
        (f"h{i:05d}", float((i * 7) % 64) + 0.5, float((i * 13) % 64) + 0.5)
        for i in range(4096)
    ] + [(f"u{i}", 64.0 * (1 + i % 3) + 5.5, 64.0 * (1 + i // 3) + 9.5) for i in range(9)]
    df = spark.createDataFrame(rows, "point_id string, x double, y double")
    salted = {
        r["point_id"]: r["value"]
        for r in raster_extract(spark, pyr_path, df, z=0, hot_cell_budget=500).collect()
    }
    plain = {
        r["point_id"]: r["value"]
        for r in raster_extract(spark, pyr_path, df, z=0).collect()
    }
    assert salted == plain and len(salted) == len(rows)
    for pid, x, y in rows[:64] + rows[4096:]:
        assert salted[pid] == base[int(y), int(x)], pid
    # the truncated-probe branch (pushdown skipped, dedicated hot-cell
    # count job, every touched cell hot at budget=1) also stays exact
    every = {
        r["point_id"]: r["value"]
        for r in raster_extract(
            spark, pyr_path, df, z=0, hot_cell_budget=1, max_pushdown_cells=2
        ).collect()
    }
    assert every == plain


def test_zonal_quantiles_matches_brute_force(spark, pyr_path):
    """r8 zonal_quantiles: type-1 (lower) quantiles — smallest value whose
    cumulative count reaches ceil(q*n) — vs a direct numpy replay over the
    ray-cast pixel sets, including q=1.0 (the max)."""
    import math

    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles

    qs = (0.25, 0.5, 0.75, 1.0)
    got = {
        r["polygon_id"]: r
        for r in zonal_quantiles(spark, pyr_path, _polys(), qs=qs, z=0).collect()
    }
    base = _base()
    for pid, ring in RINGS.items():
        h, w = base.shape
        cx = (np.arange(w) + 0.5)
        cy = (np.arange(h) + 0.5)
        gx, gy = np.meshgrid(cx, cy)
        m = points_in_polygon(gx.ravel(), gy.ravel(), np.asarray(ring, dtype=np.float64))
        vals = np.sort(base.ravel()[m]).astype(np.int64)
        n = vals.size
        g = got[pid]
        assert g["n_px"] == n, pid
        for q, lab in zip(qs, ("q250", "q500", "q750", "q1000")):
            k = math.ceil(q * n)
            assert g[lab] == int(vals[k - 1]), (pid, q)


def test_zonal_quantiles_float_level_raises(spark, pyr_path):
    from pyspark.errors.exceptions.captured import PythonException

    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles

    with pytest.raises(PythonException, match="integer"):
        zonal_quantiles(spark, pyr_path, _polys(), z=1).collect()


def test_zonal_quantiles_validation(spark, pyr_path):
    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles

    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        zonal_quantiles(spark, pyr_path, _polys(), qs=(0.0,))
    with pytest.raises(ValueError, match="non-empty"):
        zonal_quantiles(spark, pyr_path, _polys(), qs=())
    with pytest.raises(ValueError, match="collide"):
        zonal_quantiles(spark, pyr_path, _polys(), qs=(0.5, 0.5001))


def test_zonal_quantiles_binned_float_level(spark, pyr_path):
    """Binned mode over the float64 z=1 level: quantile resolved on the
    raster_histogram bucket rule, reported as lower edge + bin index —
    replayed in numpy bucket-for-bucket."""
    import math

    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles

    nb, lo, hi = 32, 0.0, 256.0
    got = {
        r["polygon_id"]: r
        for r in zonal_quantiles(
            spark, pyr_path, _polys(), qs=(0.5,), z=1, bins=nb, vmin=lo, vmax=hi
        ).collect()
    }
    base = _base()
    lvl1 = base.reshape(base.shape[0] // 2, 2, base.shape[1] // 2, 2).mean(axis=(1, 3))
    h, w = lvl1.shape
    cx = (np.arange(w) + 0.5) * 2.0
    cy = (np.arange(h) + 0.5) * 2.0
    gx, gy = np.meshgrid(cx, cy)
    for pid, ring in RINGS.items():
        m = points_in_polygon(gx.ravel(), gy.ravel(), np.asarray(ring, dtype=np.float64))
        x = lvl1.ravel()[m]
        idx = np.floor((x - lo) * nb / (hi - lo)).astype(np.int64)
        idx[x == hi] = nb - 1
        idx = np.sort(idx[(idx >= 0) & (idx < nb)])
        n = idx.size
        k = math.ceil(0.5 * n)
        g = got[pid]
        assert g["n_px"] == n, pid
        assert g["q500_bin"] == int(idx[k - 1]), pid
        assert g["q500"] == lo + int(idx[k - 1]) * (hi - lo) / nb, pid


def test_zonal_quantiles_cube_matches_flat_on_single_t(spark, pyr_path, tmp_path):
    """Cube twin pinned against the flat path: a one-slice cube built from
    the same tiles gives identical quantiles with t riding through."""
    import pyarrow.parquet as pq

    from pyramidscheme_jl_spark.operators.joins import (
        zonal_quantiles,
        zonal_quantiles_cube,
    )
    from pyramidscheme_jl_spark.sources.catalog import (
        MULTISCALES_FILE,
        read_level,
        write_multiscales,
    )

    cube = str(tmp_path / "cube")
    tiles = read_level(spark, pyr_path, 0).withColumn("t", F.lit(3))
    (tiles.write.partitionBy("z").parquet(f"{cube}/tiles"))
    import shutil
    shutil.copy(f"{pyr_path}/{MULTISCALES_FILE}", f"{cube}/{MULTISCALES_FILE}")
    flat = {
        r["polygon_id"]: (r["n_px"], r["q250"], r["q500"], r["q750"])
        for r in zonal_quantiles(spark, pyr_path, _polys(), z=0).collect()
    }
    got = {
        r["polygon_id"]: (r["t"], r["n_px"], r["q250"], r["q500"], r["q750"])
        for r in zonal_quantiles_cube(spark, cube, _polys(), z=0).collect()
    }
    assert set(got) == set(flat)
    for pid, (t, n, a, b, c) in got.items():
        assert t == 3 and (n, a, b, c) == flat[pid], pid


# ---------------------------------------------------------------------------
# zonal_categorical (r8): majority / minority / variety per polygon
# ---------------------------------------------------------------------------


def _brute_categorical(plane: np.ndarray, ring) -> dict:
    h, w = plane.shape
    cx = (np.arange(w) + 0.5)
    cy = (np.arange(h) + 0.5)
    gx, gy = np.meshgrid(cx, cy)
    m = points_in_polygon(gx.ravel(), gy.ravel(), np.asarray(ring, dtype=np.float64))
    v = plane.ravel()[m].astype(np.int64)
    vals, cnts = np.unique(v, return_counts=True)
    # majority: highest count, ties -> LOWEST value (vals ascending, so
    # argmax takes the first = lowest); minority: lowest count, same rule
    return {
        "n_px": int(v.size),
        "variety": int(vals.size),
        "majority": int(vals[np.argmax(cnts)]),
        "majority_n": int(cnts.max()),
        "minority": int(vals[np.argmin(cnts)]),
        "minority_n": int(cnts.min()),
    }


def test_zonal_categorical_matches_brute_force(spark, pyr_path):
    from pyramidscheme_jl_spark.operators.joins import zonal_categorical

    got = {r["polygon_id"]: r for r in
           zonal_categorical(spark, pyr_path, _polys(), z=0).collect()}
    base = _base()
    assert set(got) == set(RINGS)
    for pid, ring in RINGS.items():
        want = _brute_categorical(base, ring)
        g = got[pid]
        for k, expected in want.items():
            assert g[k] == expected, (pid, k, g[k], expected)


def test_zonal_categorical_tie_breaks_to_lowest_value(spark, tmp_path):
    """Constructed level where two values tie for majority AND minority:
    the reported value must be the LOWEST of the tied set (ESALC-mode
    convention)."""
    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from pyramidscheme_jl_spark.operators.joins import zonal_categorical
    from pyramidscheme_jl_spark.sources.catalog import (
        TILE_SCHEMA, write_level, write_multiscales,
    )

    n, ts = 32, 32
    a = np.zeros((n, n), dtype=np.int32)
    a[:, :16] = 7       # 512 px of 7
    a[:, 16:] = 3       # 512 px of 3  -> 3 and 7 tie everywhere
    spec = PyramidSpec(n, n, ts)
    path = str(tmp_path / "tie")
    write_level(
        spark.createDataFrame(_rows_to_pdf([_tile_row(spec, 0, 0, 0, a)]), TILE_SCHEMA),
        path, 0,
    )
    write_multiscales(path, 0, ts, n, n, "tie", "-")
    polys = [{"polygon_id": "all", "ring": [[0.0, 0.0], [32.0, 0.0], [32.0, 32.0], [0.0, 32.0]]}]
    row = zonal_categorical(spark, path, polys, z=0).collect()[0]
    assert row["variety"] == 2 and row["n_px"] == 1024
    assert row["majority"] == 3 and row["majority_n"] == 512
    assert row["minority"] == 3 and row["minority_n"] == 512


def test_zonal_categorical_float_level_raises(spark, pyr_path):
    from pyramidscheme_jl_spark.operators.joins import zonal_categorical

    with pytest.raises(Exception, match="integer raster") as err:
        zonal_categorical(spark, pyr_path, _polys(), z=1).collect()
    # the shared value-count refine names the operator that called it
    assert "zonal_categorical" in str(err.value)


# ---------------------------------------------------------------------------
# the raster<->vector stage shared by zonal, rasterize and histograms
# ---------------------------------------------------------------------------


def _one_slice_cube(spark, pyr_path, cube):
    import shutil

    from pyramidscheme_jl_spark.sources.catalog import MULTISCALES_FILE, read_level

    read_level(spark, pyr_path, 0).withColumn("t", F.lit(3)).write.partitionBy(
        "z"
    ).parquet(f"{cube}/tiles")
    shutil.copy(f"{pyr_path}/{MULTISCALES_FILE}", f"{cube}/{MULTISCALES_FILE}")


def test_zonal_jobs_per_call(spark, pyr_path, tmp_path):
    """Spark jobs each raster<->vector entry point runs at call time, with
    no action on the result. The zonal scan ranges come from the cover
    plan on the driver, so no job reads the cover back: one job per zonal
    call (two before), none for ``rasterize_polygons``."""
    from pyramidscheme_jl_spark.operators.joins import (
        zonal_categorical,
        zonal_cube,
        zonal_quantiles,
        zonal_quantiles_cube,
    )
    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons

    cube = str(tmp_path / "cube")
    _one_slice_cube(spark, pyr_path, cube)
    polys = _polys()
    calls = {
        "zonal_raster": lambda: zonal_raster(spark, pyr_path, polys),
        "zonal_cube": lambda: zonal_cube(spark, cube, polys),
        "zonal_quantiles": lambda: zonal_quantiles(spark, pyr_path, polys),
        "zonal_quantiles_cube": lambda: zonal_quantiles_cube(spark, cube, polys),
        "zonal_categorical": lambda: zonal_categorical(spark, pyr_path, polys),
        "rasterize_polygons": lambda: rasterize_polygons(spark, polys, (256, 256), tilesize=64),
    }
    sc = spark.sparkContext
    jobs = {}
    for name, call in calls.items():
        sc.setJobGroup(f"zonal-jobs-{name}", name)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"zonal-jobs-{name}"))
    want = {name: 1 for name in calls}
    want["rasterize_polygons"] = 0
    over = {k: (n, want[k]) for k, n in jobs.items() if n > want[k]}
    assert not over, over


def test_burned_membership_agrees_across_operators(spark, tmp_path):
    """One pixel-center mask and one bucket rule: three disjoint polygons
    (concave, quad, holed multipolygon) burned with their own integer
    values read back the same membership through ``zonal_raster``,
    ``raster_histogram`` and binned ``zonal_quantiles``."""
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles
    from pyramidscheme_jl_spark.operators.raster import (
        raster_histogram,
        rasterize_polygons,
    )
    from pyramidscheme_jl_spark.sources.catalog import write_level, write_multiscales

    hole = [(50.0, 160.0), (90.0, 160.0), (90.0, 200.0), (50.0, 200.0)]
    outer = [(20.0, 130.0), (120.0, 125.0), (115.0, 240.0), (25.0, 235.0)]
    tri = [(150.0, 200.0), (200.0, 205.0), (160.0, 250.0)]
    geoms = {
        "concave": (1, [(135.0, 15.0), (245.0, 25.0), (190.0, 60.0), (240.0, 115.0), (140.0, 105.0)]),
        "quad": (2, RINGS["quad"]),
        "holed": (3, [[outer, hole], [tri]]),
    }
    polys = [
        {"polygon_id": pid, "ring": ring, "value": float(v)} for pid, (v, ring) in geoms.items()
    ]
    tiles = rasterize_polygons(spark, polys, (256, 256), tilesize=64, dtype="int32", fill=0)
    burned = {v: 0 for v, _ in geoms.values()}
    for t in tiles.collect():
        a = decode_tile(t["bytes"], t["h"], t["w"], t["dtype"], t["c"])
        for v in burned:
            burned[v] += int((a == v).sum())
    path = str(tmp_path / "burn")
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 64, 256, 256, "rasterize", "-")

    zonal = {r["polygon_id"]: r for r in zonal_raster(spark, path, polys).collect()}
    bins = dict(bins=4, vmin=0.0, vmax=4.0)  # burn value v lands in bin v
    hist = {r["bin"]: r["n"] for r in raster_histogram(spark, path, **bins).collect()}
    quant = {
        r["polygon_id"]: r
        for r in zonal_quantiles(spark, path, polys, qs=(0.5,), **bins).collect()
    }
    for pid, (v, _) in geoms.items():
        assert burned[v] > 0, pid
        z = zonal[pid]
        assert (z["n_px"], z["min_px"], z["max_px"]) == (burned[v], v, v), pid
        assert hist[v] == quant[pid]["n_px"] == burned[v], pid
        assert quant[pid]["q500_bin"] == v, pid
