"""End-to-end pyramid build vs the numpy mosaic oracle (SURVEY.md §5c)."""

import numpy as np
import pytest

from pyramidscheme_jl_spark.functions.codec import decode_tile
from pyramidscheme_jl_spark.functions.reducers import block_reduce, reduce_direct
from pyramidscheme_jl_spark.operators.build import PyramidSpec, build_pyramid
from pyramidscheme_jl_spark.sources.catalog import (
    committed_levels,
    read_level,
    read_manifest,
    read_tiles,
)
from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, mosaic_pixels, synth_images


def assemble_level(spark, path, z, spec):
    """Stitch a stored level back into one numpy array (test helper)."""
    rows = read_level(spark, path, z).collect()
    assert rows, f"level {z} empty"
    dt = rows[0]["dtype"]
    W = max(r["tx"] * spec.tilesize + r["w"] for r in rows)
    H = max(r["ty"] * spec.tilesize + r["h"] for r in rows)
    out = np.zeros((H, W), dtype=np.dtype(dt))
    seen = np.zeros((H, W), dtype=bool)
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        y0, x0 = r["ty"] * spec.tilesize, r["tx"] * spec.tilesize
        out[y0 : y0 + r["h"], x0 : x0 + r["w"]] = a
        seen[y0 : y0 + r["h"], x0 : x0 + r["w"]] = True
    assert seen.all(), f"level {z} has uncovered pixels"
    return out


def oracle_levels(base, reducer, nlevels, recursive=True):
    levels = [base.astype(np.float64) if reducer == "mean" else base]
    cur = levels[0]
    for z in range(1, nlevels + 1):
        if recursive:
            cur = block_reduce(cur, reducer)
        else:
            cur = reduce_direct(levels[0], reducer, z)
        levels.append(cur)
    return levels


@pytest.fixture(scope="module")
def images_g4(spark):
    return spark.createDataFrame(synth_images(G=4), IMAGES_DDL).cache()


def test_build_mean_matches_oracle(spark, images_g4, tmp_path):
    path = str(tmp_path / "pyr")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer="mean", run_id="t1")
    assert spec.nlevels == 2  # 1024 px, tilesize 256 -> 2 levels
    base = mosaic_pixels(G=4)
    oracle = oracle_levels(base, "mean", spec.nlevels)
    for z in range(spec.nlevels + 1):
        got = assemble_level(spark, path, z, spec)
        np.testing.assert_allclose(got, oracle[z], rtol=1e-12)
    # level shapes: ceil(base / 2^z)
    assert assemble_level(spark, path, 2, spec).shape == (256, 256)


@pytest.mark.parametrize("reducer", ["min", "max", "sum"])
def test_build_other_reducers(spark, images_g4, tmp_path, reducer):
    path = str(tmp_path / f"pyr-{reducer}")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer=reducer, run_id="t2")
    base = mosaic_pixels(G=4)
    oracle = oracle_levels(base, reducer, spec.nlevels)
    top = assemble_level(spark, path, spec.nlevels, spec)
    np.testing.assert_allclose(top, oracle[-1])
    # min/max consistency across levels (north-star correctness check)
    if reducer == "min":
        rows = read_tiles(spark, path).groupBy("z").min("vmin").collect()
        mins = {r["z"]: r["min(vmin)"] for r in rows}
        assert mins[spec.nlevels] == float(base.min())
        assert all(mins[z] >= float(base.min()) for z in mins)
    if reducer == "max":
        rows = read_tiles(spark, path).groupBy("z").max("vmax").collect()
        maxs = {r["z"]: r["max(vmax)"] for r in rows}
        assert maxs[spec.nlevels] == float(base.max())
        assert all(maxs[z] <= float(base.max()) for z in maxs)


def test_build_mode_direct(spark, images_g4, tmp_path):
    path = str(tmp_path / "pyr-mode")
    spec = build_pyramid(
        spark, images_g4, path, G=4, reducer="mode", recursive=False, run_id="t3"
    )
    base = mosaic_pixels(G=4)
    for z in range(1, spec.nlevels + 1):
        got = assemble_level(spark, path, z, spec)
        np.testing.assert_array_equal(got, reduce_direct(base, "mode", z))
        assert got.dtype == np.uint8


def test_build_median_auto_direct(spark, images_g4, tmp_path):
    """VERDICT r1 #4: median builds (reference's canonical non-decomposable
    reducer) — recursive=None auto-selects the exact direct path."""
    path = str(tmp_path / "pyr-median")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer="median", run_id="md")
    base = mosaic_pixels(G=4)
    for z in range(1, spec.nlevels + 1):
        got = assemble_level(spark, path, z, spec)
        np.testing.assert_allclose(got, reduce_direct(base, "median", z), rtol=1e-12)
        assert got.dtype == np.float64
    # median really is non-decomposable (the reason auto matters): a 4x4
    # block where median-of-medians != direct median
    a = np.array(
        [[0, 0, 10, 10], [0, 0, 10, 10], [10, 10, 10, 10], [10, 10, 0, 0]], dtype=np.float64
    )
    rec = block_reduce(block_reduce(a, "median"), "median")  # 7.5
    assert rec[0, 0] != reduce_direct(a, "median", 2)[0, 0]  # 10.0


def test_recursive_median_warns_and_diverges(spark, images_g4, tmp_path):
    """Explicit recursive=True with median is honored (reference parity:
    its default builds reduce-of-reduce too) but warns — documented-divergent."""
    path = str(tmp_path / "pyr-median-rec")
    with pytest.warns(UserWarning, match="non-decomposable"):
        spec = build_pyramid(
            spark, images_g4, path, G=4, reducer="median", recursive=True, run_id="mdr"
        )
    base = mosaic_pixels(G=4)
    oracle = oracle_levels(base, "median", spec.nlevels, recursive=True)
    np.testing.assert_allclose(assemble_level(spark, path, 2, spec), oracle[2], rtol=1e-12)


def test_build_callable_reducer(spark, images_g4, tmp_path):
    """Bring-your-own reducer (reference: any resampling_method callable,
    src/PyramidScheme.jl:42,353) — a callable over the block stack. Defined
    locally so cloudpickle ships it by value (a module-level function in a
    non-shipped module would pickle by reference and fail on workers —
    mirrors the real-cluster rule in the reducers docstring)."""

    def _ptp_reducer(b):
        return np.nanmax(b, axis=2) - np.nanmin(b, axis=2)

    path = str(tmp_path / "pyr-ptp")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer=_ptp_reducer, run_id="ptp")
    base = mosaic_pixels(G=4)
    for z in range(1, spec.nlevels + 1):
        got = assemble_level(spark, path, z, spec)
        np.testing.assert_allclose(got, block_reduce(base, _ptp_reducer, fac=1 << z))
    # lineage records the callable's name
    names = {r["reducer"] for r in read_manifest(spark, path).collect()}
    assert names == {"_ptp_reducer"}


def test_build_mean_float32_levels(spark, images_g4, tmp_path):
    """VERDICT r1 #8: float32 level storage (halves level bytes — the
    disk-bound scale lever) stays within float32 rounding of the oracle."""
    path = str(tmp_path / "pyr-f32")
    spec = build_pyramid(
        spark, images_g4, path, G=4, reducer="mean", run_id="f32", level_dtype="float32"
    )
    base = mosaic_pixels(G=4)
    oracle = oracle_levels(base, "mean", spec.nlevels)
    for z in (1, 2):
        got = assemble_level(spark, path, z, spec)
        assert got.dtype == np.float32
        np.testing.assert_allclose(got, oracle[z], rtol=1e-5)
    r = read_level(spark, path, 1).collect()[0]
    assert len(r["bytes"]) == r["w"] * r["h"] * 4  # half the float64 bytes


def test_ragged_grid_g3(spark, tmp_path):
    # G=3 -> 768 px base, level 1 = 384 px (2x2 tiles, ragged 128-px edges),
    # level 2 = 192 px single ragged tile — ceil semantics end to end
    images = spark.createDataFrame(synth_images(G=3), IMAGES_DDL)
    path = str(tmp_path / "pyr3")
    spec = build_pyramid(spark, images, path, G=3, reducer="mean", run_id="t4")
    assert spec.nlevels == 2
    base = mosaic_pixels(G=3)
    oracle = oracle_levels(base, "mean", 2)
    for z in (1, 2):
        got = assemble_level(spark, path, z, spec)
        assert got.shape == oracle[z].shape
        np.testing.assert_allclose(got, oracle[z], rtol=1e-12)
    l1 = read_level(spark, path, 1).collect()
    widths = {(r["tx"], r["ty"]): (r["w"], r["h"]) for r in l1}
    assert widths[(1, 1)] == (128, 128)  # ragged corner tile


@pytest.mark.parametrize("materialize_base", [False, True])
def test_fused_levels_match_per_level(spark, tmp_path, materialize_base):
    """r9 fused multi-level build (VERDICT r8 #2): the default fused block
    must be BYTE-identical to the strict per-level pipeline — including
    the bench configuration (materialize_base=False, float32 levels) and
    a distributed fused block that actually runs (G=16 -> 256 base tiles,
    above the driver-tail threshold; local[4] keeps k=3 groups >= cores).
    ``materialize_base=True`` runs the fused block over the STORED base
    (the from-tiles quarter source) instead of the images table."""
    images = spark.createDataFrame(synth_images(G=16), IMAGES_DDL)
    p_fused = str(tmp_path / "fused")
    p_plain = str(tmp_path / "plain")
    kw = dict(
        G=16, reducer="mean", materialize_base=materialize_base, level_dtype="float32",
    )
    spec = build_pyramid(spark, images, p_fused, run_id="f", **kw)
    spec2 = build_pyramid(
        spark, images, p_plain, run_id="p", fused_levels=1, **kw
    )
    assert spec.nlevels == spec2.nlevels == 4
    for z in range(1, spec.nlevels + 1):
        a = {
            (r["tx"], r["ty"]): (r["bytes"], r["w"], r["h"], r["dtype"],
                                 r["vmin"], r["vmax"], r["vmean"], r["cell"])
            for r in read_level(spark, p_fused, z).collect()
        }
        b = {
            (r["tx"], r["ty"]): (r["bytes"], r["w"], r["h"], r["dtype"],
                                 r["vmin"], r["vmax"], r["vmean"], r["cell"])
            for r in read_level(spark, p_plain, z).collect()
        }
        assert a == b, f"level {z} diverges between fused and per-level"
    # every level committed (manifest rows exist for the fused block too)
    from pyramidscheme_jl_spark.sources.catalog import committed_levels

    assert set(committed_levels(spark, p_fused, "f")) >= {1, 2, 3, 4}


def test_fused_levels_sparse_base_match_per_level(spark, tmp_path):
    """A sparse base (the four images under level-1 tile (0, 0) missing):
    a fused block emits exactly the per-level tile set — no all-NaN tile
    where no child exists — with the same values. NaN-aware: above the
    hole the fused pass carries the reducer's NaN, the per-level pass the
    mosaic's fill NaN."""
    rows = [r for i, r in enumerate(synth_images(G=8, size=32)) if i not in (0, 1, 8, 9)]
    images = spark.createDataFrame(rows, IMAGES_DDL)
    levels = {}
    for fused in (3, 1):
        p = str(tmp_path / f"f{fused}")
        spec = build_pyramid(
            spark, images, p, G=8, tilesize=32, reducer="mean", run_id="s",
            fuse_threshold=0, fused_levels=fused,
        )
        levels[fused] = [
            {(r["tx"], r["ty"]): r for r in read_level(spark, p, z).collect()}
            for z in range(1, spec.nlevels + 1)
        ]
    assert (0, 0) not in levels[3][0]
    for a, b in zip(levels[3], levels[1]):
        assert a.keys() == b.keys()
        for key, r in a.items():
            np.testing.assert_array_equal(
                decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"]),
                decode_tile(b[key]["bytes"], b[key]["h"], b[key]["w"], b[key]["dtype"], b[key]["c"]),
            )


def test_manifest_lineage_and_resume(spark, images_g4, tmp_path):
    path = str(tmp_path / "pyr-resume")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer="mean", run_id="r1")
    m = read_manifest(spark, path)
    rows = m.collect()
    assert {r["z"] for r in rows} == {0, 1, 2}
    assert all(r["reducer"] == "mean" and len(r["reducer_hash"]) == 16 for r in rows)
    by_z = {z: sum(r["tile_count"] for r in rows if r["z"] == z) for z in (0, 1, 2)}
    assert by_z == {0: 16, 1: 4, 2: 1}
    assert committed_levels(spark, path, "r1") == [0, 1, 2]
    # simulate a crash after level 1: drop level-2 data + its manifest rows
    import shutil

    shutil.rmtree(f"{path}/tiles/z=2")
    m_keep = m.where("z < 2").collect()
    shutil.rmtree(f"{path}/_manifest")
    from pyramidscheme_jl_spark.sources.catalog import append_manifest

    append_manifest(spark, path, [r.asDict() for r in m_keep])
    assert committed_levels(spark, path, "r1") == [0, 1]
    # resume completes only the missing level and the result is correct
    build_pyramid(spark, images_g4, path, G=4, reducer="mean", run_id="r1", resume=True)
    base = mosaic_pixels(G=4)
    np.testing.assert_allclose(
        assemble_level(spark, path, 2, spec), oracle_levels(base, "mean", 2)[2], rtol=1e-12
    )
    assert committed_levels(spark, path, "r1") == [0, 1, 2]


def test_rectangular_grid(spark, tmp_path):
    # non-square base (reference (2048,1024,...) cube, test/runtests.jl:145-166):
    # G=(4,2) -> 1024x512 base, level shapes halve per dim independently
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL as DDL
    from pyramidscheme_jl_spark.sources.synth import image_row

    rows = [image_row(i, 4) for i in range(8)]  # 4 wide x 2 tall
    images = spark.createDataFrame(rows, DDL)
    path = str(tmp_path / "rect")
    spec = build_pyramid(spark, images, path, G=(4, 2), reducer="mean", run_id="rect")
    assert (spec.base_w, spec.base_h) == (1024, 512)
    assert spec.nlevels == 2
    base = np.zeros((512, 1024), dtype=np.uint8)
    from pyramidscheme_jl_spark.sources.synth import image_pixels

    for i in range(8):
        gx, gy = i % 4, i // 4
        base[gy * 256 : (gy + 1) * 256, gx * 256 : (gx + 1) * 256] = image_pixels(gx, gy)
    for z in (1, 2):
        got = assemble_level(spark, path, z, spec)
        want = oracle_levels(base, "mean", 2)[z]
        assert got.shape == want.shape == (512 >> z, 1024 >> z)
        np.testing.assert_allclose(got, want, rtol=1e-12)


def test_multiband_build(spark, tmp_path):
    # bands pass through aggregation untouched (ref test/runtests.jl:145-166):
    # RGB rows (c inferred from payload size) -> every level keeps 3 channels
    from pyramidscheme_jl_spark.functions.codec import decode_tile, encode_tile
    from pyramidscheme_jl_spark.sources.synth import image_pixels, image_row

    rows = []
    for i in range(4):
        base = image_row(i, 2)
        img = image_pixels(i % 2, i // 2)
        rgb = np.dstack([img, img // 2, img // 4])
        rows.append({**base, "bytes": encode_tile(rgb)})
    images = spark.createDataFrame(rows,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    path = str(tmp_path / "rgb")
    spec = build_pyramid(spark, images, path, G=2, reducer="mean", run_id="rgb")
    assert spec.nlevels == 1
    r = read_level(spark, path, 1).collect()[0]
    assert r["c"] == 3
    arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], 3)
    from pyramidscheme_jl_spark.functions.reducers import block_reduce

    full = np.zeros((512, 512, 3), dtype=np.uint8)
    for i in range(4):
        img = image_pixels(i % 2, i // 2)
        gy, gx = i // 2, i % 2
        full[gy * 256 : (gy + 1) * 256, gx * 256 : (gx + 1) * 256] = np.dstack(
            [img, img // 2, img // 4]
        )
    np.testing.assert_allclose(arr, block_reduce(full.astype(np.float64), "mean"))


def test_tile_columns_cell_extent(spark, images_g4, tmp_path):
    path = str(tmp_path / "pyr-cols")
    spec = build_pyramid(spark, images_g4, path, G=4, reducer="mean", run_id="t5")
    rows = {(r["z"], r["tx"], r["ty"]): r for r in read_tiles(spark, path).collect()}
    r = rows[(1, 1, 0)]
    assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == (512.0, 0.0, 1024.0, 512.0)
    from pyramidscheme_jl_spark.functions.cells import cell_to_xy

    ix, iy, res = cell_to_xy(r["cell"])
    assert (int(ix), int(iy), int(res)) == (1, 0, spec.cell_res(1))
    # per-tile stats are exact
    base = mosaic_pixels(G=4)
    l1 = oracle_levels(base, "mean", 1)[1]
    blk = l1[0:256, 256:512]
    assert r["vmin"] == blk.min() and r["vmax"] == blk.max()
    np.testing.assert_allclose(r["vmean"], blk.mean())


def test_build_mixed_format_corpus(spark, tmp_path):
    """A corpus mixing raw/pgm/png/jpeg payloads builds the SAME pyramid as
    raw rows carrying the identical decoded pixels — the codec registry is
    part of the base stage, not a separate preprocessing job. The jpeg
    oracle rows use the decoder's own pixels (lossy codec; bytes are the
    source of truth), so equality is exact, not allclose."""
    from pyramidscheme_jl_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from pyramidscheme_jl_spark.functions.media_codecs import encode_pgm, encode_png
    from pyramidscheme_jl_spark.sources.synth import image_pixels

    G = 4
    fmt_cycle = ["raw", "pgm", "png", "jpeg"]
    rows_enc, rows_raw = [], []
    for i in range(G * G):
        img = image_pixels(i % G, i // G)
        fmt = fmt_cycle[i % 4]
        if fmt == "raw":
            payload, pixels = img.tobytes(), img
        elif fmt == "pgm":
            payload, pixels = encode_pgm(img), img
        elif fmt == "png":
            payload, pixels = encode_png(img, filter_type=4), img
        else:
            payload = encode_jpeg(img, quality=95)
            pixels = decode_jpeg(payload)
        iid = f"img-{i:08d}"
        common = {"w": 256, "h": 256, "caption": "c", "phash": 0}
        rows_enc.append({"image_id": iid, "bytes": payload, "fmt": fmt, **common})
        rows_raw.append({"image_id": iid, "bytes": pixels.tobytes(), "fmt": "raw", **common})

    enc_df = spark.createDataFrame(rows_enc, IMAGES_DDL)
    raw_df = spark.createDataFrame(rows_raw, IMAGES_DDL)
    p_enc, p_raw = str(tmp_path / "enc"), str(tmp_path / "raw")
    spec = build_pyramid(spark, enc_df, p_enc, G=G, reducer="mean", run_id="mx")
    build_pyramid(spark, raw_df, p_raw, G=G, reducer="mean", run_id="mx")
    for z in range(1, spec.nlevels + 1):
        np.testing.assert_array_equal(
            assemble_level(spark, p_enc, z, spec), assemble_level(spark, p_raw, z, spec)
        )


def test_build_metadata_mismatch_raises(spark, tmp_path):
    """A row whose metadata contradicts the file header is a data-quality
    error naming the row, not a silent mis-tile."""
    from pyspark.errors.exceptions.captured import PythonException

    from pyramidscheme_jl_spark.functions.media_codecs import encode_pgm
    from pyramidscheme_jl_spark.sources.synth import image_pixels

    img = image_pixels(0, 0)
    rows = [
        {"image_id": "img-00000000", "bytes": encode_pgm(img), "w": 128, "h": 256,
         "fmt": "pgm", "caption": "c", "phash": 0}
    ]
    df = spark.createDataFrame(rows, IMAGES_DDL)
    with pytest.raises(PythonException, match="contradicts"):
        build_pyramid(spark, df, str(tmp_path / "bad"), G=1, reducer="mean", run_id="mm")


def test_unsupported_format_rows_counted_and_strict_raises(spark, tmp_path, caplog):
    """VERDICT r4 #3: rows the decode stage drops (e.g. fmt='tiff') are
    surfaced — warn + count by default, ValueError under strict_formats —
    instead of vanishing silently."""
    import logging

    import pytest

    from pyramidscheme_jl_spark.operators.build import (
        audit_unsupported_images,
        build_pyramid,
    )
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    rows = synth_images(G=2)
    rows.append(dict(rows[0], image_id="img-00000003", fmt="tiff"))
    images = spark.createDataFrame(rows, IMAGES_DDL)

    assert audit_unsupported_images(images) == 1
    with pytest.raises(ValueError, match="dropping 1/5"):
        audit_unsupported_images(images, strict=True)

    with pytest.raises(ValueError, match="unsupported fmt"):
        build_pyramid(
            spark, images, str(tmp_path / "s"), G=2, run_id="s", strict_formats=True
        )
    with caplog.at_level(logging.WARNING, logger="pyramidscheme_jl_spark"):
        build_pyramid(spark, images, str(tmp_path / "w"), G=2, run_id="w")
    assert any("dropping 1/5" in r.message for r in caplog.records)


def test_spatial_sort_makes_row_group_stats_prunable(spark, tmp_path):
    """Round 5: levels are written Morton-sorted within each partition
    (measured free — no exchange), making spatial row-group coherence a
    CONTRACT of the layout instead of an accident of applyInPandas's
    internal (ptx, pty) group ordering. With forced-small row groups a
    corner-window read must skip most row groups, and Morton must prune
    at least as well as the producer's row-major order."""
    import functools
    import glob

    import pyarrow.parquet as pq

    import pyramidscheme_jl_spark.operators.build as B
    import pyramidscheme_jl_spark.sources.catalog as C
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "16384")  # tiny row groups
    try:
        # >100 rows per file: parquet-mr only checks block rotation every
        # 100 records, so small files never split otherwise. The window
        # check targets z=1 — the POST-SHUFFLE level (base tiles arrive in
        # coherent generation order; hash scatter is the z>=1 reality).
        images = spark.createDataFrame(synth_images(G=64, size=8), IMAGES_DDL).coalesce(2)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")

        def overlap_stats(path, z, tx_max, ty_max):
            total = hit = 0
            for f in glob.glob(f"{path}/tiles/z={z}/part-*.parquet"):
                md = pq.ParquetFile(f).metadata
                for rg in range(md.num_row_groups):
                    cols = {
                        md.row_group(rg).column(i).path_in_schema:
                            md.row_group(rg).column(i).statistics
                        for i in range(md.row_group(rg).num_columns)
                    }
                    total += 1
                    if cols["tx"].min <= tx_max and cols["ty"].min <= ty_max:
                        hit += 1
            return hit, total

        p_sorted = str(tmp_path / "s")
        B.build_pyramid(spark, images, p_sorted, G=64, tilesize=8, run_id="s")
        # cells are Morton-sorted within every file of every level
        for z in (0, 1):
            for f in glob.glob(f"{p_sorted}/tiles/z={z}/part-*.parquet"):
                cells = pq.read_table(f, columns=["cell"])["cell"].to_pylist()
                assert cells == sorted(cells), f

        orig = C.write_level
        C.write_level = functools.partial(orig, spatial_sort=False)
        B.write_level = C.write_level
        try:
            p_raw = str(tmp_path / "u")
            B.build_pyramid(spark, images, p_raw, G=64, tilesize=8, run_id="u")
        finally:
            C.write_level = orig
            B.write_level = orig

        hs, ts = overlap_stats(p_sorted, 1, 7, 7)  # 8x8 corner of the 32x32 level
        hu, tu = overlap_stats(p_raw, 1, 7, 7)
        assert ts > 8 and tu > 8  # forced-small row groups actually happened
        # Morton layout: most row groups' stats exclude the corner window,
        # and never fewer than the producer-order control (row-major from
        # applyInPandas's internal group sort bounds ty but not tx)
        assert hs / ts < 0.5, (hs, ts)
        assert hs <= hu, (hs, hu)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
