"""Vector->raster burn (raster.rasterize_polygons): paint-order pixel
semantics vs a numpy oracle, sparse-tile output, and the round trip into
the rest of the engine (write_level -> raster_extract / zonal_raster).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramidscheme_jl_spark.functions.cells import points_in_polygon
from pyramidscheme_jl_spark.functions.codec import decode_tile
from pyramidscheme_jl_spark.operators.raster import rasterize_polygons

W = 256  # 2x2 tiles of 128

POLYS = [
    # p2 overlaps p1; paint order must let p2 win on the overlap
    {"polygon_id": "p1", "ring": [[20.0, 20.0], [200.0, 30.0], [180.0, 210.0], [30.0, 190.0]], "value": 10.0},
    {"polygon_id": "p2", "ring": [[100.0, 100.0], [240.0, 110.0], [230.0, 230.0], [110.0, 220.0]], "value": 20.0},
]


def _plane() -> np.ndarray:
    plane = np.full((W, W), np.nan)
    ys, xs = np.mgrid[0:W, 0:W]
    for p in POLYS:
        m = points_in_polygon(
            xs.ravel() + 0.5, ys.ravel() + 0.5, np.asarray(p["ring"])
        ).reshape(W, W)
        plane[m] = p["value"]
    return plane


def test_rasterize_matches_paint_oracle(spark):
    tiles = rasterize_polygons(spark, POLYS, (W, W), tilesize=128).collect()
    plane = _plane()
    seen = np.zeros((W, W), dtype=bool)
    for r in tiles:
        assert r["z"] == 0
        arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        x0, y0 = r["tx"] * 128, r["ty"] * 128
        want = plane[y0 : y0 + r["h"], x0 : x0 + r["w"]]
        assert ((arr == want) | (np.isnan(arr) & np.isnan(want))).all(), (r["tx"], r["ty"])
        seen[y0 : y0 + r["h"], x0 : x0 + r["w"]] = True
    # sparse contract: every burned pixel lives in an emitted tile, and
    # every emitted tile has at least one burned pixel
    assert not ((~np.isnan(plane)) & (~seen)).any()
    for r in tiles:
        arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        assert np.isfinite(arr).any()
    # the overlap region took p2's value (paint order, last wins)
    assert plane[150, 150] == 20.0


def test_rasterize_fill_and_dtype(spark):
    tiles = rasterize_polygons(
        spark, POLYS, (W, W), tilesize=128, fill=0.0, dtype="uint8"
    ).collect()
    plane = _plane()
    for r in tiles:
        assert r["dtype"] == "uint8"
        arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        x0, y0 = r["tx"] * 128, r["ty"] * 128
        want = plane[y0 : y0 + r["h"], x0 : x0 + r["w"]].copy()
        want[np.isnan(want)] = 0.0
        assert (arr == want.astype(np.uint8)).all()


def test_rasterize_duplicate_id_raises(spark):
    with pytest.raises(ValueError, match="duplicate"):
        rasterize_polygons(spark, [POLYS[0], POLYS[0]], (W, W))


def test_rasterize_empty_and_offworld(spark):
    assert rasterize_polygons(spark, [], (W, W)).count() == 0


def test_rasterize_roundtrip_into_engine(spark, tmp_path):
    """The burned tiles are first-class: write_level + multiscales makes a
    pyramid base that raster_extract and zonal_raster consume unchanged."""
    from pyramidscheme_jl_spark.operators.joins import raster_extract, zonal_raster
    from pyramidscheme_jl_spark.sources.catalog import write_level, write_multiscales

    path = str(tmp_path / "burned")
    tiles = rasterize_polygons(spark, POLYS, (W, W), tilesize=128)
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 128, W, W, "rasterize", "none")
    plane = _plane()

    pts = [("in1", 50.0, 60.0), ("in2", 150.0, 150.0), ("nod", 5.0, 250.0)]
    df = spark.createDataFrame(pts, "point_id string, x double, y double")
    got = {r["point_id"]: r["value"] for r in raster_extract(spark, path, df, z=0).collect()}
    assert got["in1"] == plane[60, 50] == 10.0
    assert got["in2"] == plane[150, 150] == 20.0
    # the nodata point lands on a stored tile but a NaN pixel: value is
    # NaN (Arrow surfaces it as null on collect)
    assert "nod" not in got or got["nod"] is None or np.isnan(got["nod"])

    ring = [[10.0, 10.0], [240.0, 12.0], [235.0, 240.0], [12.0, 235.0]]
    zr = zonal_raster(spark, path, [{"polygon_id": "all", "ring": ring}], z=0).collect()
    m = points_in_polygon(
        (np.mgrid[0:W, 0:W][1].ravel() + 0.5),
        (np.mgrid[0:W, 0:W][0].ravel() + 0.5),
        np.asarray(ring),
    ).reshape(W, W)
    v = plane[m & ~np.isnan(plane)]
    assert zr[0]["n_px"] == len(v) and zr[0]["sum_px"] == v.sum()


def test_build_overviews_over_rasterized_base(spark, tmp_path):
    """The reference's buildpyramids(path) shape: levels built over an
    EXISTING stored base — here the sparse burned raster — with NaN
    (missing) propagating through skipmissing reducers, never 0."""
    from pyramidscheme_jl_spark.api import PyramidDataset
    from pyramidscheme_jl_spark.operators.build import build_overviews
    from pyramidscheme_jl_spark.sources.catalog import read_level, write_level, write_multiscales

    path = str(tmp_path / "burned_pyr")
    tiles = rasterize_polygons(spark, POLYS, (W, W), tilesize=64)
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 64, W, W, "rasterize", "none")

    spec = build_overviews(spark, path, reducer="mean", run_id="ov")
    assert spec.nlevels == 2  # 4x4 tiles of 64 -> 2 overview levels

    plane = _plane()
    lvl = plane.copy()
    for z in (1, 2):
        # nan-aware 2x2 block mean (skipmissing)
        lvl = lvl.reshape(lvl.shape[0] // 2, 2, lvl.shape[1] // 2, 2)
        with np.errstate(invalid="ignore"):
            lvl = np.nanmean(np.nanmean(lvl, axis=3), axis=1)
        rows = read_level(spark, path, z).collect()
        seen = np.full(lvl.shape, np.nan)
        for r in rows:
            arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
            seen[r["ty"] * 64 : r["ty"] * 64 + r["h"], r["tx"] * 64 : r["tx"] * 64 + r["w"]] = arr
        both_nan = np.isnan(seen) & np.isnan(lvl)
        assert (both_nan | (seen == lvl)).all(), f"level {z} mismatch"
        # the critical regression guard: missing data must never read as 0
        assert not ((lvl != 0) & np.isnan(lvl) & (seen == 0)).any()

    # the built pyramid is a first-class dataset: open + window read work
    ds = PyramidDataset.open(spark, path, tilesize=64)
    assert ds.nlevels == 2
    # resume is a no-op on a complete build (manifest says all committed)
    build_overviews(spark, path, reducer="mean", run_id="ov", resume=True)
    assert read_level(spark, path, 2).count() == len(rows)


def test_sparse_mosaic_build_fills_nan_not_zero(spark, tmp_path):
    """A bulk build whose images table is missing an interior mosaic slot:
    the absent quarter must assemble as NaN (missing), not silently 0 —
    and skipmissing mean must ignore it in the next level."""
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.sources.catalog import read_level
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, image_pixels, synth_images

    rows = [r for r in synth_images(G=2, size=64) if r["image_id"] != "img-00000003"]
    path = str(tmp_path / "sparse")
    images = spark.createDataFrame(rows, IMAGES_DDL)
    build_pyramid(spark, images, path, G=2, reducer="mean", tilesize=64, run_id="s",
                  fuse_threshold=0)  # force the distributed assemble path
    lv1 = {(r["tx"], r["ty"]): r for r in read_level(spark, path, 1).collect()}
    r = lv1[(0, 0)]
    arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
    # quarter (1,1) came from the missing image: NaN, not zeros
    assert np.isnan(arr[32:, 32:]).all()
    want = image_pixels(0, 0, 64).reshape(32, 2, 32, 2).mean(axis=(1, 3))
    assert (arr[:32, :32] == want).all()
    # and the stored stats skipped the missing quarter
    assert r["vmin"] == np.nanmin(arr) and not np.isnan(r["vmean"])


def test_sparse_float_reads_fill_nan_not_zero(spark, tmp_path):
    """Driver reads of a SPARSE float level: tiles that were never stored
    read as NaN (missing), like the no-data pixels inside stored tiles —
    not 0.0, which is a valid data value. Two squares burn tiles (0,0)
    and (3,3) of a 4x4-tile 64-px level; ``read(0)`` and a full-extent
    ``read_window`` must both equal the paint oracle, NaN for NaN."""
    from pyramidscheme_jl_spark.api import PyramidDataset
    from pyramidscheme_jl_spark.sources.catalog import write_level, write_multiscales

    squares = [
        {"polygon_id": "a", "ring": [[8.0, 8.0], [40.0, 8.0], [40.0, 40.0], [8.0, 40.0]], "value": 3.0},
        {"polygon_id": "b", "ring": [[200.0, 200.0], [240.0, 200.0], [240.0, 240.0], [200.0, 240.0]], "value": 5.0},
    ]
    path = str(tmp_path / "sparse_read")
    tiles = rasterize_polygons(spark, squares, (W, W), tilesize=64)
    assert sorted((r["tx"], r["ty"]) for r in tiles.select("tx", "ty").collect()) == [(0, 0), (3, 3)]
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 64, W, W, "rasterize", "none")

    oracle = np.full((W, W), np.nan)
    ys, xs = np.mgrid[0:W, 0:W]
    for p in squares:
        m = points_in_polygon(xs.ravel() + 0.5, ys.ravel() + 0.5, np.asarray(p["ring"]))
        oracle[m.reshape(W, W)] = p["value"]

    ds = PyramidDataset.open(spark, path, tilesize=64)
    win = ds.read_window((0.0, 0.0, float(W), float(W)), (W, W))
    assert win["z"] == 0
    for got in (ds.read(0), win["data"]):
        assert got.shape == (W, W)
        np.testing.assert_array_equal(got, oracle)  # NaN == NaN here


def test_image_phash_dedup_pipeline_end_to_end(spark):
    """The input_hint story end-to-end: an images table (image_id, bytes,
    w, h, fmt, caption, phash) with perturbed duplicates -> REAL decode +
    phash via image_features -> hamming near-dup pairs -> connected
    components -> keep-min decision. Every stage is the engine's own
    operator; ground truth is numpy phash distances."""
    import numpy as np

    from pyramidscheme_jl_spark.functions.codec import encode_tile
    from pyramidscheme_jl_spark.operators.dedup import connected_components, hamming_near_dup
    from pyramidscheme_jl_spark.operators.multimodal import image_features
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, phash64

    def patt(i):
        x = np.arange(64, dtype=np.int64)[None, :]
        y = np.arange(64, dtype=np.int64)[:, None]
        return (((i * 3 + 1) * x + (i * 5 + 2) * y + (x * y if i % 2 else x ^ y)) % 256).astype(
            np.uint8
        )

    rows, fps = [], {}
    for i in range(12):
        img = patt(i)
        rows.append({"image_id": f"img-{i:03d}", "bytes": encode_tile(img), "w": 64,
                     "h": 64, "fmt": "raw", "caption": f"c{i}", "phash": 0})
        fps[f"img-{i:03d}"] = phash64(img)
        if i < 2:  # two perturbed near-dups
            pert = np.clip(img.astype(np.int64) + (np.arange(64)[None, :] < 8) * 60, 0, 255
                           ).astype(np.uint8)
            rows.append({"image_id": f"img-{i:03d}-v2", "bytes": encode_tile(pert),
                         "w": 64, "h": 64, "fmt": "raw", "caption": f"c{i}", "phash": 0})
            fps[f"img-{i:03d}-v2"] = phash64(pert)

    images = spark.createDataFrame(rows, IMAGES_DDL)
    # stage 1: REAL decode -> phash (the stored phash column is ignored on
    # purpose: the pipeline must be able to fingerprint raw corpora)
    feats = image_features(images).select("image_id", "phash")
    got_fps = {r["image_id"]: r["phash"] for r in feats.collect()}
    assert got_fps == fps
    # stage 2+3: near-dup pairs -> components
    pairs = hamming_near_dup(feats, fp_col="phash", id_col="image_id", r=6)
    comp = connected_components(pairs)
    keep = comp.groupBy("component").agg(F.min("id").alias("keep_id")).collect()
    want_pairs = {
        (a, b) for a in fps for b in fps
        if a < b and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 6
    }
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got_pairs == want_pairs and len(want_pairs) >= 1
    # every perturbed image whose phash stayed within r groups with exactly
    # its original; ones that drifted past r form no component (dedup
    # correctly does NOT merge them)
    members = {}
    for r in comp.collect():
        members.setdefault(r["component"], set()).add(r["id"])
    near = {i for i in range(2)
            if bin((fps[f"img-{i:03d}"] ^ fps[f"img-{i:03d}-v2"]) & ((1 << 64) - 1)).count("1") <= 6}
    assert near, "fixture must keep at least one perturbation within r"
    for i in range(2):
        in_comp = any(f"img-{i:03d}-v2" in m for m in members.values())
        assert in_comp == (i in near)
        if i in near:
            grp = next(m for m in members.values() if f"img-{i:03d}-v2" in m)
            assert grp == {f"img-{i:03d}", f"img-{i:03d}-v2"}
    assert {r["keep_id"] for r in keep} == {f"img-{i:03d}" for i in near}


def test_review_guards(spark, tmp_path):
    """Round-6 review pins: int dtype rejects the default NaN fill;
    build_overviews refuses to guess a tilesize for a bare multi-tile base."""
    from pyramidscheme_jl_spark.operators.build import build_overviews
    from pyramidscheme_jl_spark.sources.catalog import write_level

    with pytest.raises(ValueError, match="NaN fill"):
        rasterize_polygons(spark, POLYS, (W, W), dtype="uint8")

    path = str(tmp_path / "bare128")
    tiles = rasterize_polygons(spark, POLYS, (W, W), tilesize=128)
    write_level(tiles, path, 0)  # NO multiscales doc on purpose
    with pytest.raises(ValueError, match="tilesize"):
        build_overviews(spark, path)
    # the explicit parameter unblocks it
    spec = build_overviews(spark, path, tilesize=128)
    assert spec.tilesize == 128 and spec.nlevels == 1


def test_rasterize_holed_multipolygon_paint_order(spark):
    """r7: hole pixels of an earlier polygon stay unburned unless a LATER
    polygon paints into them — even-odd interior rings composed with
    last-wins paint order, decoded pixel-exact against the numpy oracle."""
    outer = [[20.0, 20.0], [200.0, 30.0], [180.0, 210.0], [30.0, 190.0]]
    hole = [[60.0, 60.0], [140.0, 65.0], [135.0, 140.0], [65.0, 135.0]]
    part2 = [[210.0, 210.0], [245.0, 215.0], [220.0, 245.0]]
    quad = [[80.0, 80.0], [120.0, 85.0], [115.0, 120.0], [85.0, 115.0]]
    polys = [
        {"polygon_id": "mph", "ring": [[outer, hole], [part2]], "value": 10.0},
        {"polygon_id": "q", "ring": quad, "value": 20.0},
    ]
    tiles = rasterize_polygons(spark, polys, (W, W), tilesize=128).collect()

    plane = np.full((W, W), np.nan)
    ys, xs = np.mgrid[0:W, 0:W]
    cx, cy = xs.ravel() + 0.5, ys.ravel() + 0.5
    m1 = points_in_polygon(cx, cy, [outer, hole, part2]).reshape(W, W)
    plane[m1] = 10.0
    m2 = points_in_polygon(cx, cy, [quad]).reshape(W, W)
    plane[m2] = 20.0
    for r in tiles:
        arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        x0, y0 = r["tx"] * 128, r["ty"] * 128
        want = plane[y0 : y0 + r["h"], x0 : x0 + r["w"]]
        assert ((arr == want) | (np.isnan(arr) & np.isnan(want))).all(), (r["tx"], r["ty"])
    # semantics pins: the hole is unburned where the quad doesn't reach,
    # 20.0 inside the quad (painted INTO the hole), 10.0 in the disjoint part
    assert np.isnan(plane[70, 70])
    assert plane[100, 100] == 20.0
    assert plane[220, 225] == 10.0
