"""Focal statistics (r7): halo-exchange neighborhood stats pinned
against a numpy replay over the full assembled mosaic (the ground truth
with no tile boundaries at all)."""

from __future__ import annotations

import numpy as np
import pytest

from pyramidscheme_jl_spark.operators.raster import focal_stats


@pytest.fixture(scope="module")
def pyr(spark, tmp_path_factory):
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    root = str(tmp_path_factory.mktemp("focal") / "pyr")
    images = spark.createDataFrame(synth_images(G=4, size=32), IMAGES_DDL)
    build_pyramid(spark, images, root, G=4, reducer="mean", tilesize=32,
                  run_id="focal-test")
    # the known closed-form mosaic: v = (16*((px//32)+(py//32)) ^ ... ) —
    # regenerate from the synth formula by decoding the built base
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.sources.catalog import read_level

    full = np.zeros((128, 128), dtype=np.uint8)
    for r in read_level(spark, root, 0).collect():
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        full[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    return root, full


def _replay(full, stat, r):
    H, W = full.shape
    out = np.zeros((H, W), dtype=np.float64)
    for y in range(H):
        for x in range(W):
            win = full[max(0, y - r):y + r + 1, max(0, x - r):x + r + 1]
            out[y, x] = {
                "mean": win.mean(), "sum": win.sum(), "count": win.size,
                "min": win.min(), "max": win.max(),
            }[stat]
    return out


@pytest.mark.parametrize("stat", ["mean", "sum", "count", "min", "max"])
def test_focal_matches_full_mosaic_replay(spark, pyr, stat):
    root, full = pyr
    from pyramidscheme_jl_spark.functions.codec import decode_tile

    rows = focal_stats(spark, root, z=0, stat=stat).collect()
    assert len(rows) == 16
    got = np.zeros((128, 128), dtype=np.float64)
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        got[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    expect = _replay(full, stat, 1)
    if stat == "mean":
        assert np.array_equal(got, expect)  # bit-exact: int sums / IEEE div
    else:
        assert np.array_equal(got, expect)


def test_focal_radius2_and_errors(spark, pyr):
    root, full = pyr
    from pyramidscheme_jl_spark.functions.codec import decode_tile

    rows = focal_stats(spark, root, z=0, stat="sum", radius=2).collect()
    got = np.zeros((128, 128), dtype=np.float64)
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        got[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    assert np.array_equal(got, _replay(full, "sum", 2))
    with pytest.raises(ValueError, match="stat"):
        focal_stats(spark, root, stat="median")
    with pytest.raises(ValueError, match="radius"):
        focal_stats(spark, root, radius=0)


def test_focal_apply_slope_hillshade(spark, pyr):
    """focal_apply + the Horn DEM kernels: per-tile halo windows must
    reproduce the full-mosaic computation bit-for-bit (interior pixels
    see identical values; raster borders use the same edge-replication
    code path in engine and replay)."""
    root, full = pyr
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.raster import (
        _horn_gradients,
        hillshade,
        slope_degrees,
    )

    fullf = np.full((130, 130), np.nan)
    fullf[1:-1, 1:-1] = full.astype(np.float64)

    dzdx, dzdy = _horn_gradients(fullf, 1.0)
    exp_slope = np.degrees(np.arctan(np.sqrt(dzdx ** 2 + dzdy ** 2)))

    got = np.zeros((128, 128))
    for r in slope_degrees(spark, root, z=0).collect():
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        got[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    assert np.array_equal(got, exp_slope)

    import math
    zen = math.radians(45.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    sl = np.arctan(np.sqrt(dzdx ** 2 + dzdy ** 2))
    asp = np.arctan2(dzdy, -dzdx)
    exp_hs = np.clip(
        (np.cos(zen) * np.cos(sl)
         + np.sin(zen) * np.sin(sl) * np.cos(az - asp)) * 255.0, 0, 255)
    goth = np.zeros((128, 128))
    for r in hillshade(spark, root, z=0).collect():
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        goth[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    assert np.array_equal(goth, exp_hs)

    # custom kernel via the public hook: range = max - min over the window
    from pyramidscheme_jl_spark.operators.raster import focal_apply

    def kern(pad, valid, r):
        import numpy as _np
        lo = _np.where(valid, pad, _np.inf)
        hi = _np.where(valid, pad, -_np.inf)
        k = 2 * r + 1
        mn = lo[:, 0:lo.shape[1] - k + 1].copy()
        mx = hi[:, 0:hi.shape[1] - k + 1].copy()
        for i in range(1, k):
            mn = _np.minimum(mn, lo[:, i:lo.shape[1] - k + 1 + i])
            mx = _np.maximum(mx, hi[:, i:hi.shape[1] - k + 1 + i])
        mn2 = mn[0:mn.shape[0] - k + 1, :].copy()
        mx2 = mx[0:mx.shape[0] - k + 1, :].copy()
        for i in range(1, k):
            mn2 = _np.minimum(mn2, mn[i:mn.shape[0] - k + 1 + i, :])
            mx2 = _np.maximum(mx2, mx[i:mx.shape[0] - k + 1 + i, :])
        return mx2 - mn2

    rows = focal_apply(spark, root, kern, z=0).collect()
    gotr = np.zeros((128, 128))
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        gotr[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    assert np.array_equal(gotr, _replay(full, "max", 1) - _replay(full, "min", 1))


def test_focal_nan_nodata(spark, tmp_path):
    """Review fix: NaN pixels are NODATA — they must neither poison
    neighbors' stats nor count, and all-nodata windows yield NaN (mean/
    min/max/sum — NaN-as-nodata, like SQL SUM over an empty frame)
    or 0 (count of nothing)."""
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
    )
    from pyramidscheme_jl_spark.functions.codec import decode_tile, encode_tile
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    # build a 2x2-tile float pyramid, then overwrite one tile with a NaN
    # block in a corner
    root = str(tmp_path / "pyr")
    images = spark.createDataFrame(synth_images(G=2, size=16), IMAGES_DDL)
    build_pyramid(spark, images, root, G=2, reducer="mean", tilesize=16,
                  run_id="nan-focal")
    from pyramidscheme_jl_spark.sources.catalog import read_level

    rows = [r.asDict() for r in read_level(spark, root, 1).collect()]
    assert len(rows) == 1 and rows[0]["dtype"] == "float64"
    a = decode_tile(rows[0]["bytes"], rows[0]["h"], rows[0]["w"], "float64").copy()
    a[:4, :4] = np.nan
    rows[0]["bytes"] = encode_tile(a)
    nan_root = str(tmp_path / "pyr_nan")
    import os
    os.makedirs(nan_root, exist_ok=True)
    df = spark.createDataFrame(
        [tuple(rows[0][f] for f in ("z", "tx", "ty", "bytes", "w", "h", "c",
                                    "dtype", "vmin", "vmax", "vmean", "cell",
                                    "xmin", "ymin", "xmax", "ymax"))],
        "z int, tx int, ty int, bytes binary, w int, h int, c int, "
        "dtype string, vmin double, vmax double, vmean double, cell long, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    write_level(df, nan_root, 1)

    from pyramidscheme_jl_spark.operators.raster import focal_stats

    got = {}
    for stat in ("mean", "sum", "count", "min", "max"):
        r = focal_stats(spark, nan_root, z=1, stat=stat).collect()[0]
        got[stat] = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])

    H, W = a.shape
    for y in range(H):
        for x in range(W):
            win = a[max(0, y - 1):y + 2, max(0, x - 1):x + 2]
            vals = win[np.isfinite(win)]
            assert got["count"][y, x] == vals.size
            if vals.size:
                assert got["sum"][y, x] == vals.sum()
                assert got["mean"][y, x] == vals.sum() / vals.size
                assert got["min"][y, x] == vals.min()
                assert got["max"][y, x] == vals.max()
            else:
                assert np.isnan(got["sum"][y, x])
                assert np.isnan(got["mean"][y, x])
                assert np.isnan(got["min"][y, x])
                assert np.isnan(got["max"][y, x])


def test_focal_stats_cube(spark, tmp_path):
    """r7 cube focal: t rides the halo keys — per-slice results equal
    the per-slice flat replay and halos never cross time slices (slice
    pixels differ by +7t so leakage can't cancel)."""
    from pyramidscheme_jl_spark.operators.cube import build_cube
    from pyramidscheme_jl_spark.operators.raster import focal_stats_cube
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    path = str(tmp_path / "cube")
    rows = []
    for t in range(2):
        for r in synth_images(G=2, size=16):
            a = np.frombuffer(r["bytes"], dtype=np.uint8) + np.uint8(7 * t)
            rows.append({**r, "bytes": a.tobytes(), "t": t})
    images = spark.createDataFrame(rows, IMAGES_DDL + ", t int")
    build_cube(spark, images, path, G=2, reducer="mean", tilesize=16,
               run_id="focal-cube")

    got = focal_stats_cube(spark, path, z=0, stat="mean").collect()
    assert len(got) == 8  # 2 slices x 4 tiles
    for t in range(2):
        full = np.zeros((32, 32), dtype=np.float64)
        for r in [x for x in got if x["t"] == t]:
            a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
            full[r["ty"] * 16:(r["ty"] + 1) * 16,
                 r["tx"] * 16:(r["tx"] + 1) * 16] = a
        # rebuild the slice's base closed-form: mosaic + 7t
        base = np.zeros((32, 32), dtype=np.float64)
        for r in rows:
            if r["t"] != t:
                continue
            iy, ix = divmod(int(r["image_id"].split("-")[1]), 2)
            base[iy * 16:(iy + 1) * 16, ix * 16:(ix + 1) * 16] = (
                np.frombuffer(r["bytes"], dtype=np.uint8).reshape(16, 16))
        assert np.array_equal(full, _replay(base, "mean", 1)), f"t={t}"


def test_raster_histogram_exact_and_binned(spark, pyr):
    """r8: exact-value histogram equals numpy's over the assembled
    mosaic; binned mode follows the GDAL bucket rule (fixed width over
    [vmin, vmax), value == vmax lands in the last bucket), drops
    out-of-range pixels, and excludes NaN as nodata; error paths pin the
    validation contract."""
    from pyramidscheme_jl_spark.operators.raster import raster_histogram

    root, full = pyr
    vals, cnts = np.unique(full, return_counts=True)
    got = {r["value"]: r["n"] for r in raster_histogram(spark, root, z=0).collect()}
    assert got == {int(v): int(c) for v, c in zip(vals, cnts)}
    assert sum(got.values()) == full.size

    # binned over the uint8 range: 8 buckets of width 32
    res = raster_histogram(spark, root, z=0, bins=8, vmin=0.0, vmax=256.0)
    rows = {r["bin"]: r for r in res.collect()}
    exp = np.histogram(full.astype(np.float64), bins=8, range=(0, 256))[0]
    for b in range(8):
        if exp[b]:
            assert rows[b]["n"] == int(exp[b])
            assert rows[b]["lo"] == b * 32.0 and rows[b]["hi"] == (b + 1) * 32.0
        else:
            assert b not in rows  # empty buckets are absent, not zero rows

    # level 1 is float64 (mean reducer): exact mode must refuse,
    # binned mode must work and count every (finite) pixel
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    with _pytest.raises(PythonException, match="integer raster"):
        raster_histogram(spark, root, z=1).collect()
    n1 = raster_histogram(
        spark, root, z=1, bins=4, vmin=0.0, vmax=256.0
    ).agg({"n": "sum"}).collect()[0][0]
    assert n1 == 64 * 64  # level-1 pixel count, nothing dropped

    with _pytest.raises(ValueError, match="vmin < vmax"):
        raster_histogram(spark, root, z=0, bins=4, vmin=1.0, vmax=1.0)
    with _pytest.raises(ValueError, match="positive"):
        raster_histogram(spark, root, z=0, bins=0, vmin=0.0, vmax=1.0)


def test_aspect_degrees(spark, pyr):
    """r8: aspect (Horn downslope compass direction) matches the
    full-mosaic replay bit-for-bit; flat cells return the -1 sentinel;
    range contract [0, 360) U {-1} holds everywhere."""
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.raster import (
        _horn_gradients,
        aspect_degrees,
    )

    root, full = pyr
    fullf = np.full((130, 130), np.nan)
    fullf[1:-1, 1:-1] = full.astype(np.float64)
    dzdx, dzdy = _horn_gradients(fullf, 1.0)
    az = np.degrees(np.arctan2(dzdy, -dzdx))
    exp = np.where(az > 90.0, 450.0 - az, 90.0 - az)
    exp = np.where(exp == 360.0, 0.0, exp)
    exp = np.where((dzdx == 0) & (dzdy == 0), -1.0, exp)

    got = np.zeros((128, 128))
    for r in aspect_degrees(spark, root, z=0).collect():
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        got[r["ty"] * 32:(r["ty"] + 1) * 32, r["tx"] * 32:(r["tx"] + 1) * 32] = a
    assert np.array_equal(got, exp)
    ok = (got == -1.0) | ((got >= 0.0) & (got < 360.0))
    assert ok.all()
    # flat sentinel: a constant surface is all -1 (checked through the
    # replay math — the engine kernel is the identical expression, pinned
    # bit-for-bit above)
    flat = np.full((6, 6), np.nan)
    flat[1:-1, 1:-1] = 7.0
    fx, fy = _horn_gradients(flat, 1.0)
    assert ((fx == 0) & (fy == 0)).all()


# ---------------------------------------------------------------------------
# morphology (r8): erode/dilate/open/close as focal min/max compositions
# ---------------------------------------------------------------------------


def _grey_morph(full, seq, r):
    cur = full.astype(np.float64)
    for stat in seq:
        cur = _replay(cur, stat, r)
    return cur


def _collect_plane(rows, ts=32, n=128):
    from pyramidscheme_jl_spark.functions.codec import decode_tile

    got = np.zeros((n, n), dtype=np.float64)
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"])
        got[r["ty"] * ts:(r["ty"] + 1) * ts, r["tx"] * ts:(r["tx"] + 1) * ts] = a
    return got


@pytest.mark.parametrize("op,seq", [("erode", ("min",)), ("dilate", ("max",))])
def test_morphology_single_pass(spark, pyr, op, seq):
    from pyramidscheme_jl_spark.operators.raster import morphology

    root, full = pyr
    got = _collect_plane(morphology(spark, root, op=op, radius=1).collect())
    np.testing.assert_array_equal(got, _grey_morph(full, seq, 1))


@pytest.mark.parametrize("op,seq", [("open", ("min", "max")), ("close", ("max", "min"))])
def test_morphology_two_pass(spark, pyr, tmp_path, op, seq):
    from pyramidscheme_jl_spark.operators.raster import morphology

    root, full = pyr
    wd = str(tmp_path / f"morph-{op}")
    got = _collect_plane(morphology(spark, root, op=op, radius=1, workdir=wd).collect())
    np.testing.assert_array_equal(got, _grey_morph(full, seq, 1))


def test_morphology_binary_mask_semantics(spark, tmp_path):
    """On a 0/1 mask, opening removes speckles smaller than the element
    and closing fills pinholes — the classical binary contracts."""
    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from pyramidscheme_jl_spark.operators.raster import morphology
    from pyramidscheme_jl_spark.sources.catalog import (
        TILE_SCHEMA, write_level, write_multiscales,
    )

    n, ts = 64, 32
    mask = np.zeros((n, n), dtype=np.int32)
    mask[10:30, 8:40] = 1     # a solid blob
    mask[18, 20] = 0          # pinhole inside the blob -> close fills it
    mask[50, 50] = 1          # isolated speckle -> open removes it
    spec = PyramidSpec(n, n, ts)
    rows = [
        _tile_row(spec, 0, tx, ty, mask[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts])
        for ty in range(2) for tx in range(2)
    ]
    path = str(tmp_path / "mask")
    write_level(spark.createDataFrame(_rows_to_pdf(rows), TILE_SCHEMA), path, 0)
    write_multiscales(path, 0, ts, n, n, "mask", "-")

    opened = _collect_plane(
        morphology(spark, path, "open", 1, workdir=str(tmp_path / "w1")).collect(),
        ts=ts, n=n)
    closed = _collect_plane(
        morphology(spark, path, "close", 1, workdir=str(tmp_path / "w2")).collect(),
        ts=ts, n=n)
    assert opened[50, 50] == 0          # speckle gone
    assert opened[15, 20] == 1          # blob interior survives
    assert closed[18, 20] == 1          # pinhole filled
    assert closed[50, 50] == 1          # speckle survives closing
    assert opened.min() >= 0 and closed.max() <= 1


def test_morphology_validation(spark, pyr):
    from pyramidscheme_jl_spark.operators.raster import morphology

    root, _ = pyr
    with pytest.raises(ValueError, match="op must be"):
        morphology(spark, root, op="skeletonize")
    with pytest.raises(ValueError, match="workdir"):
        morphology(spark, root, op="open")


# ---------------------------------------------------------------------------
# histogram_equalize (r8): global CDF contrast stretch, exact integer LUT
# ---------------------------------------------------------------------------


def _eq_replay(full, levels):
    vals, cnts = np.unique(full.astype(np.int64), return_counts=True)
    cdf = np.cumsum(cnts)
    n, cmin = int(cdf[-1]), int(cdf[0])
    den = n - cmin
    if den == 0:
        lut = np.zeros(len(vals), dtype=np.int64)
    else:
        lut = (2 * (cdf - cmin) * (levels - 1) + den) // (2 * den)
    return lut[np.searchsorted(vals, full.astype(np.int64))]


def test_histogram_equalize_matches_replay(spark, pyr):
    from pyramidscheme_jl_spark.operators.raster import histogram_equalize

    root, full = pyr
    got = _collect_plane(histogram_equalize(spark, root, z=0).collect())
    np.testing.assert_array_equal(got, _eq_replay(full, 256))
    rows = histogram_equalize(spark, root, z=0).collect()
    assert {r["dtype"] for r in rows} == {"uint8"}


def test_histogram_equalize_levels_16(spark, pyr):
    from pyramidscheme_jl_spark.operators.raster import histogram_equalize

    root, full = pyr
    got = _collect_plane(histogram_equalize(spark, root, z=0, levels=16).collect())
    np.testing.assert_array_equal(got, _eq_replay(full, 16))
    assert got.max() == 15 and got.min() == 0


def test_histogram_equalize_constant_and_errors(spark, tmp_path, pyr):
    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from pyramidscheme_jl_spark.operators.raster import histogram_equalize
    from pyramidscheme_jl_spark.sources.catalog import (
        TILE_SCHEMA, write_level, write_multiscales,
    )

    n = ts = 32
    a = np.full((n, n), 9, dtype=np.int32)
    path = str(tmp_path / "const")
    write_level(
        spark.createDataFrame(_rows_to_pdf([_tile_row(PyramidSpec(n, n, ts), 0, 0, 0, a)]), TILE_SCHEMA),
        path, 0,
    )
    write_multiscales(path, 0, ts, n, n, "c", "-")
    got = _collect_plane(histogram_equalize(spark, path, z=0).collect(), ts=ts, n=n)
    np.testing.assert_array_equal(got, np.zeros((n, n)))

    root, _ = pyr
    with pytest.raises(ValueError, match="levels"):
        histogram_equalize(spark, root, levels=1)
    with pytest.raises(ValueError, match="max_distinct"):
        histogram_equalize(spark, root, max_distinct=10)


# ---------------------------------------------------------------------------
# gdaldem trio (r8): TPI / TRI / roughness, edge-replicated borders
# ---------------------------------------------------------------------------


def _dem_replay(full, which, alg="riley"):
    H, W = full.shape
    p = np.pad(full.astype(np.float64), 1, mode="edge")
    out = np.zeros((H, W))
    for y in range(H):
        for x in range(W):
            win = p[y:y + 3, x:x + 3]
            ctr = win[1, 1]
            nb = np.delete(win.ravel(), 4)
            if which == "tpi":
                out[y, x] = ctr - nb.mean()
            elif which == "tri" and alg == "riley":
                out[y, x] = np.sqrt(((ctr - nb) ** 2).sum())
            elif which == "tri":
                out[y, x] = np.abs(ctr - nb).mean()
            else:
                out[y, x] = win.max() - win.min()
    return out


@pytest.mark.parametrize("which,alg", [
    ("tpi", None), ("tri", "riley"), ("tri", "wilson"), ("roughness", None),
])
def test_gdaldem_trio_matches_replay(spark, pyr, which, alg):
    from pyramidscheme_jl_spark.operators.raster import roughness, tpi, tri

    root, full = pyr
    if which == "tpi":
        df = tpi(spark, root, z=0)
    elif which == "tri":
        df = tri(spark, root, z=0, alg=alg)
    else:
        df = roughness(spark, root, z=0)
    got = _collect_plane(df.collect())
    want = _dem_replay(full, which, alg or "riley")
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_roughness_equals_dilate_minus_erode(spark, pyr):
    """The oracle claim: roughness == shrinking-window focal max - min."""
    from pyramidscheme_jl_spark.operators.raster import focal_stats, roughness

    root, full = pyr
    got = _collect_plane(roughness(spark, root, z=0).collect())
    mx = _collect_plane(focal_stats(spark, root, z=0, stat="max").collect())
    mn = _collect_plane(focal_stats(spark, root, z=0, stat="min").collect())
    np.testing.assert_array_equal(got, mx - mn)


def test_tri_validation(spark, pyr):
    from pyramidscheme_jl_spark.operators.raster import tri

    root, _ = pyr
    with pytest.raises(ValueError, match="alg"):
        tri(spark, root, alg="mad")


def test_focal_apply_pad_contract(spark, tmp_path):
    """``focal_apply`` hands its kernel a float64 pad that is NaN where no
    tile delivered a pixel (raster border, missing tile) and a ``valid``
    mask that is True wherever a tile did, NaN pixels included. The
    kernel encodes, per output pixel, the window's count of valid cells
    and of NaN pad cells; a numpy replay of that contract over the
    assembled plane must agree, on ragged tiles around a missing one."""
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from pyramidscheme_jl_spark.operators.raster import focal_apply
    from pyramidscheme_jl_spark.sources.catalog import write_level_driver, write_multiscales

    ts, W, H, r, missing = 32, 80, 72, 2, (1, 1)
    a = np.random.RandomState(11).uniform(0, 9, size=(H, W))
    a[np.random.RandomState(12).rand(H, W) < 0.1] = np.nan
    a[30:34, 62:66] = np.nan  # a NaN block across a tile seam
    spec = PyramidSpec(W, H, ts)
    tiles = [(tx, ty) for ty in range(3) for tx in range(3) if (tx, ty) != missing]
    rows = [_tile_row(spec, 0, tx, ty, np.ascontiguousarray(a[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]))
            for tx, ty in tiles]
    path = str(tmp_path / "pyr")
    write_level_driver(_rows_to_pdf(rows).to_dict("records"), path, 0)
    write_multiscales(path, 0, ts, W, H, "none", "-")

    def kern(pad, valid, k):
        h, w = pad.shape[0] - 2 * k, pad.shape[1] - 2 * k
        nv = np.zeros((h, w))
        nn = np.zeros((h, w))
        for dy in range(2 * k + 1):
            for dx in range(2 * k + 1):
                nv += valid[dy:dy + h, dx:dx + w]
                nn += np.isnan(pad[dy:dy + h, dx:dx + w])
        return nv * 100 + nn

    # the replay: the whole plane padded by r, NaN where no tile delivered
    plane = np.full((H + 2 * r, W + 2 * r), np.nan)
    present = np.zeros(plane.shape, dtype=bool)
    for tx, ty in tiles:
        win = np.s_[r + ty * ts:r + min((ty + 1) * ts, H), r + tx * ts:r + min((tx + 1) * ts, W)]
        plane[win] = a[win[0].start - r:win[0].stop - r, win[1].start - r:win[1].stop - r]
        present[win] = True
    want = kern(plane, present, r)

    got = focal_apply(spark, path, kern, radius=r).collect()
    assert sorted((x["tx"], x["ty"]) for x in got) == sorted(tiles)
    for x in got:
        tile = decode_tile(x["bytes"], x["h"], x["w"], x["dtype"])
        y0, x0 = x["ty"] * ts, x["tx"] * ts
        np.testing.assert_array_equal(tile, want[y0:y0 + x["h"], x0:x0 + x["w"]])
