"""(x, y, t) cubes: non-spatial dims pass through aggregation untouched
(reference src/PyramidScheme.jl:229-233, test/runtests.jl:145-166)."""

import numpy as np
import pytest

from pyramidscheme_jl_spark.functions.codec import decode_tile
from pyramidscheme_jl_spark.operators.build import PyramidSpec, build_pyramid
from pyramidscheme_jl_spark.operators.cube import (
    build_cube,
    cat_cubes_t,
    cube_slice,
    read_cube_level,
    read_cube_tiles,
)
from pyramidscheme_jl_spark.operators.read import pyramids_equal
from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, mosaic_pixels, synth_images
from tests.test_build_spark import oracle_levels

T_SLICES = 3
CUBE_DDL = IMAGES_DDL + ", t int"


def _cube_rows(G=4):
    """Per-slice pixels differ (base + 7t mod 256) so pass-through bugs
    (slices mixing) can't cancel out."""
    rows = []
    for t in range(T_SLICES):
        for r in synth_images(G=G):
            arr = np.frombuffer(r["bytes"], dtype=np.uint8) + np.uint8(7 * t)
            rows.append({**r, "bytes": arr.tobytes(), "t": t})
    return rows


def _slice_oracle(t, nlevels=2):
    base = mosaic_pixels(G=4) + np.uint8(7 * t)
    return oracle_levels(base, "mean", nlevels)


def _assemble_cube_level(spark, path, z, spec, t):
    rows = [r for r in read_cube_level(spark, path, z).collect() if r["t"] == t]
    assert rows, f"slice t={t} level {z} empty"
    dt = rows[0]["dtype"]
    W = max(r["tx"] * spec.tilesize + r["w"] for r in rows)
    H = max(r["ty"] * spec.tilesize + r["h"] for r in rows)
    out = np.zeros((H, W), dtype=np.dtype(dt))
    for r in rows:
        a = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
        out[r["ty"] * spec.tilesize : r["ty"] * spec.tilesize + r["h"],
            r["tx"] * spec.tilesize : r["tx"] * spec.tilesize + r["w"]] = a
    return out


@pytest.fixture(scope="module")
def cube(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cube") / "c")
    images = spark.createDataFrame(_cube_rows(), CUBE_DDL)
    spec = build_cube(spark, images, path, G=4, reducer="mean", run_id="cb")
    return path, spec


def test_cube_levels_match_per_slice_oracle(spark, cube):
    path, spec = cube
    assert spec.nlevels == 2
    for t in range(T_SLICES):
        oracle = _slice_oracle(t)
        for z in (0, 1, 2):
            got = _assemble_cube_level(spark, path, z, spec, t)
            # level shapes: spatial dims shrink by 2^z, t extent untouched
            assert got.shape == oracle[z].shape
            np.testing.assert_allclose(got, oracle[z], rtol=1e-12)


def test_cube_tile_counts_scale_with_t(spark, cube):
    path, spec = cube
    tiles = read_cube_tiles(spark, path)
    # every level holds |t| x the single-pyramid tile count
    counts = {r["z"]: r["n"] for r in tiles.groupBy("z").count().withColumnRenamed("count", "n").collect()}
    assert counts == {0: 3 * 16, 1: 3 * 4, 2: 3 * 1}
    # t never aggregates: every level spans all slices
    for z in (0, 1, 2):
        ts = {r["t"] for r in tiles.where(f"z = {z}").select("t").distinct().collect()}
        assert ts == set(range(T_SLICES))


def test_cube_slice_is_a_plain_pyramid(spark, cube, tmp_path):
    """cube_slice(t) == an independently built pyramid of that slice, via
    the EXISTING equality operator (the pass-through contract: the rest of
    the API applies per slice unchanged)."""
    path, spec = cube
    rows = [dict(r, t=None) for r in _cube_rows() if r["t"] == 1]
    for r in rows:
        r.pop("t")
    images = spark.createDataFrame(rows, IMAGES_DDL)
    solo = str(tmp_path / "solo")
    build_pyramid(spark, images, solo, G=4, reducer="mean", run_id="s1")
    from pyramidscheme_jl_spark.sources.catalog import read_tiles

    sl = cube_slice(read_cube_tiles(spark, path), 1)
    assert pyramids_equal(sl, read_tiles(spark, solo))
    assert not pyramids_equal(cube_slice(read_cube_tiles(spark, path), 2), read_tiles(spark, solo))


def test_cube_slice_filter_pushed_down(spark, cube):
    path, _ = cube
    sl = cube_slice(read_cube_tiles(spark, path), 1)
    plan = sl._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "t" in plan.split("PushedFilters")[1][:120]


def test_cat_cubes_t(spark, cube):
    path, _ = cube
    tiles = read_cube_tiles(spark, path)
    doubled = cat_cubes_t([tiles, tiles])
    assert doubled.count() == 2 * tiles.count()
    ts = sorted(r["t"] for r in doubled.select("t").distinct().collect())
    assert ts == list(range(2 * T_SLICES))
    # shifted copy equals the original slice-for-slice
    assert pyramids_equal(cube_slice(doubled, T_SLICES), cube_slice(tiles, 0))
    # three or more cubes stay CONTIGUOUS (a compounding offset once gapped
    # the third cube's t range)
    tripled = cat_cubes_t([tiles, tiles, tiles])
    ts = sorted(r["t"] for r in tripled.select("t").distinct().collect())
    assert ts == list(range(3 * T_SLICES))
    assert pyramids_equal(cube_slice(tripled, 2 * T_SLICES), cube_slice(tiles, 0))


def test_cube_resume_and_reducer_guard(spark, tmp_path):
    from pyramidscheme_jl_spark.sources.catalog import committed_levels

    path = str(tmp_path / "c2")
    images = spark.createDataFrame(_cube_rows(), CUBE_DDL)
    build_cube(spark, images, path, G=4, reducer="mean", run_id="r")
    assert committed_levels(spark, path, "r") == [0, 1, 2]
    # resume with everything committed: no-op, result unchanged
    spec = build_cube(spark, images, path, G=4, reducer="mean", run_id="r", resume=True)
    got = _assemble_cube_level(spark, path, 2, spec, 0)
    np.testing.assert_allclose(got, _slice_oracle(0)[2], rtol=1e-12)
    with pytest.raises(ValueError, match="not\\s+decomposable|decomposable"):
        build_cube(spark, images, str(tmp_path / "c3"), G=4, reducer="mode")


def test_cube_sparse_slot_fills_nan_not_zero(spark, tmp_path):
    """A cube whose t=0 slice is missing one mosaic slot: the absent
    quarter must assemble as NaN (missing), not 0, and the stored stats
    must skip it — the flat build's contract
    (test_rasterize::test_sparse_mosaic_build_fills_nan_not_zero)."""
    from pyramidscheme_jl_spark.sources.synth import image_pixels

    rows = [
        {**r, "t": t}
        for t in (0, 1)
        for r in synth_images(G=2, size=64)
        if not (t == 0 and r["image_id"] == "img-00000003")
    ]
    path = str(tmp_path / "sparse_cube")
    images = spark.createDataFrame(rows, CUBE_DDL)
    build_cube(spark, images, path, G=2, reducer="mean", tilesize=64, run_id="s")
    lv1 = {(r["t"], r["tx"], r["ty"]): r for r in read_cube_level(spark, path, 1).collect()}
    r = lv1[(0, 0, 0)]
    arr = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
    # quarter (1,1) came from the missing image: NaN, not zeros
    assert np.isnan(arr[32:, 32:]).all()
    want = image_pixels(0, 0, 64).reshape(32, 2, 32, 2).mean(axis=(1, 3))
    assert (arr[:32, :32] == want).all()
    assert r["vmin"] == np.nanmin(arr) and not np.isnan(r["vmean"])
    # the complete t=1 slice has no gap
    full = lv1[(1, 0, 0)]
    assert not np.isnan(decode_tile(full["bytes"], full["h"], full["w"], full["dtype"], full["c"])).any()


def test_cube_base_decodes_encoded_formats(spark, tmp_path):
    """build_cube ingests every SUPPORTED_IMAGE_FMTS payload like the flat
    build — png/jpeg rows must decode, not silently drop (ADVICE r3)."""
    from pyramidscheme_jl_spark.functions.media_codecs import encode_png

    G = 2
    rows = []
    for t in range(2):
        for r in synth_images(G=G):
            arr = (np.frombuffer(r["bytes"], dtype=np.uint8) + np.uint8(7 * t)).reshape(256, 256)
            i = int(r["image_id"].split("-")[1])
            if (i + t) % 2 == 0:
                rows.append({**r, "bytes": encode_png(arr), "fmt": "png", "t": t})
            else:
                rows.append({**r, "bytes": arr.tobytes(), "t": t})
    images = spark.createDataFrame(rows, CUBE_DDL)
    path = str(tmp_path / "enc_cube")
    spec = build_cube(spark, images, path, G=G, reducer="mean", run_id="ec")
    for t in range(2):
        base = mosaic_pixels(G=G) + np.uint8(7 * t)
        got0 = _assemble_cube_level(spark, path, 0, spec, t)
        np.testing.assert_array_equal(got0, base)
        got1 = _assemble_cube_level(spark, path, 1, spec, t)
        np.testing.assert_allclose(got1, oracle_levels(base, "mean", 1)[1], rtol=1e-12)


def test_streaming_cube_ingest_matches_batch_build(spark, tmp_path):
    """VERDICT r3 #8: a streamed (t, x, y) cube — two micro-batches, the
    second touching ancestors the first already built — equals the batch
    build_cube output on every level and slice."""
    from pyramidscheme_jl_spark.streaming.ingest import ingest_cube_images

    rows = _cube_rows(G=4)
    src = tmp_path / "cstream_src"
    src.mkdir()
    # split mid-slice so every slice's ancestors get patched incrementally
    spark.createDataFrame(rows[:20], CUBE_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "scube")
    ingest_cube_images(spark, f"{src}/*", q_path, G=4).awaitTermination(180)
    spark.createDataFrame(rows[20:], CUBE_DDL).coalesce(1).write.parquet(str(src / "b1"))
    ingest_cube_images(spark, f"{src}/*", q_path, G=4).awaitTermination(180)

    spec = PyramidSpec(1024, 1024)
    for t in range(T_SLICES):
        oracle = _slice_oracle(t)
        for z in (0, 1, 2):
            got = _assemble_cube_level(spark, q_path, z, spec, t)
            np.testing.assert_allclose(got, oracle[z], rtol=1e-12)

    # non-decomposable reducers are refused up front
    with pytest.raises(ValueError, match="not\\s+decomposable|not decomposable"):
        ingest_cube_images(spark, f"{src}/*", str(tmp_path / "x"), G=4, reducer="median")


def test_streaming_cube_ingest_epoch_scale_t(spark, tmp_path):
    """Review r4: t values at epoch-seconds scale (>= 2^21) must patch
    ancestors correctly — the packed-int64 isin trick would overflow; the
    broadcast semi-join membership must not."""
    from pyramidscheme_jl_spark.streaming.ingest import ingest_cube_images

    T0 = 1_700_000_000  # >= 2^30
    rows = [{**r, "t": T0} for r in synth_images(G=2)]
    src = tmp_path / "epoch_src"
    src.mkdir()
    spark.createDataFrame(rows, CUBE_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "epoch_cube")
    ingest_cube_images(spark, f"{src}/*", q_path, G=2).awaitTermination(180)
    spec = PyramidSpec(512, 512)
    base = mosaic_pixels(G=2)
    got1 = _assemble_cube_level(spark, q_path, 1, spec, T0)
    np.testing.assert_allclose(got1, oracle_levels(base, "mean", 1)[1], rtol=1e-12)


def test_streamed_cube_compaction_preserves_t(spark, tmp_path):
    """compact_pyramid on a streamed cube must keep the t key column —
    dropping it merged every slice into duplicate (tx, ty) rows."""
    from pyramidscheme_jl_spark.streaming.ingest import (
        compact_pyramid,
        ingest_cube_images,
    )

    rows = _cube_rows(G=2)[: 2 * 4]  # t = 0, 1
    src = tmp_path / "cc_src"
    src.mkdir()
    spark.createDataFrame(rows, CUBE_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "cc_cube")
    ingest_cube_images(spark, f"{src}/*", q_path, G=2).awaitTermination(180)

    compacted = compact_pyramid(spark, q_path)
    assert set(compacted) == {0, 1}
    spec = PyramidSpec(512, 512)
    for t in range(2):
        base = mosaic_pixels(G=2) + np.uint8(7 * t)
        np.testing.assert_array_equal(_assemble_cube_level(spark, q_path, 0, spec, t), base)
        np.testing.assert_allclose(
            _assemble_cube_level(spark, q_path, 1, spec, t),
            oracle_levels(base, "mean", 1)[1], rtol=1e-12,
        )


def test_streaming_cube_multipass_cascade(spark, tmp_path, monkeypatch):
    """Cube ingest across multiple cascade passes (K=1 forces one pass
    per level): per-slice equality with the batch oracle — all passes run
    executor-side (no driver tile bytes for any slice count)."""
    import pyramidscheme_jl_spark.streaming.ingest as ing

    monkeypatch.setattr(ing, "_CASCADE_LEVELS", 1)
    rows = _cube_rows(G=4)
    src = tmp_path / "mpc_src"
    src.mkdir()
    spark.createDataFrame(rows, CUBE_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "mpc_cube")
    ing.ingest_cube_images(spark, f"{src}/*", q_path, G=4).awaitTermination(180)
    spec = PyramidSpec(1024, 1024)
    for t in range(T_SLICES):
        oracle = _slice_oracle(t)
        for z in (0, 1, 2):
            np.testing.assert_allclose(
                _assemble_cube_level(spark, q_path, z, spec, t), oracle[z], rtol=1e-12
            )


def test_cube_t_overflow_raises_not_wraps(spark):
    """ADVICE r4: t >= 2^31 must raise loudly at ingest, not silently wrap
    in the int32 tile storage (epoch seconds are fine until 2038; beyond
    that the cast guard fires JVM-side)."""
    import pytest

    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.operators.cube import base_cube_tiles
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, image_row

    ok_row = dict(image_row(0, G=2), t=2_000_000_000)  # epoch-scale, fits
    spec = PyramidSpec(512, 512)
    df = spark.createDataFrame([ok_row], IMAGES_DDL + ", t long")
    got = base_cube_tiles(df, 2, spec).select("t").collect()
    assert [r["t"] for r in got] == [2_000_000_000]

    bad_row = dict(image_row(0, G=2), t=1 << 31)
    bad = spark.createDataFrame([bad_row], IMAGES_DDL + ", t long")
    with pytest.raises(Exception, match="overflows int32"):
        base_cube_tiles(bad, 2, spec).select("t").collect()


def test_streaming_cube_delta_rewrite_last_writer_wins(spark, tmp_path):
    """Round 5: the cube delta layout must last-writer-win per
    (t, tx, ty) — a later batch REPLACING one (t, image) pair rewrites
    that slice's tile and its ancestors, leaving every other slice
    untouched (the pass-through-dims contract under rewrites)."""
    from pyramidscheme_jl_spark.functions.codec import encode_tile
    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.streaming.ingest import ingest_cube_images

    rows = _cube_rows(G=2)
    src = tmp_path / "crw_src"
    src.mkdir()
    spark.createDataFrame(rows, CUBE_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "crw_cube")
    ingest_cube_images(spark, f"{src}/*", q_path, G=2).awaitTermination(180)

    # batch 1: replace image 0 of slice t=1 with constant 9 pixels
    repl = next(dict(r) for r in rows if r["t"] == 1 and r["image_id"] == "img-00000000")
    new_px = np.full((256, 256), 9, dtype=np.uint8)
    repl["bytes"] = encode_tile(new_px)
    spark.createDataFrame([repl], CUBE_DDL).coalesce(1).write.parquet(str(src / "b1"))
    ingest_cube_images(spark, f"{src}/*", q_path, G=2).awaitTermination(180)

    spec = PyramidSpec(512, 512)
    for t in range(T_SLICES):
        base = mosaic_pixels(G=2) + np.uint8(7 * t)
        if t == 1:
            base = base.copy()
            base[:256, :256] = new_px
        oracle = oracle_levels(base, "mean", 1)
        for z in (0, 1):
            got = _assemble_cube_level(spark, q_path, z, spec, t)
            np.testing.assert_allclose(got, oracle[z], rtol=1e-12)


@pytest.mark.parametrize("cube", [False, True], ids=["flat", "cube"])
def test_union_scan_reads_exactly_allowed_keys(spark, tmp_path, cube):
    """VERDICT r5 #4: the cascade's sibling union scan reads exactly the
    ``_allowed_child_keys`` tiles — the 4-sibling sets of the changed
    parents minus the tiles the pass recomputes in-group — on flat
    pyramids and cubes alike, and the rule drops the recomputed level-1
    key of this clustered batch."""
    from pyramidscheme_jl_spark.streaming.ingest import (
        _allowed_child_keys,
        _changed_keys_by_level,
        _sibling_union_scan,
        ingest_cube_images,
        ingest_images,
    )

    src = tmp_path / "exsrc"
    src.mkdir()
    path = str(tmp_path / "expyr")
    if cube:
        spark.createDataFrame(_cube_rows(G=4), CUBE_DDL).coalesce(2).write.parquet(str(src / "b0"))
        ingest_cube_images(spark, f"{src}/*", path, G=4).awaitTermination(180)
    else:
        spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(2).write.parquet(str(src / "b0"))
        ingest_images(spark, f"{src}/*", path, G=4).awaitTermination(180)

    # steady batch: the top-left 2x2 base quadrant (slice t=0 on the
    # cube) -> changed level-1 key (0,0) is recomputed in-group and must
    # not be read as a level-2 source
    lead = (0,) if cube else ()
    base_keys = [lead + (tx, ty) for tx in (0, 1) for ty in (0, 1)]
    changed = _changed_keys_by_level(base_keys, 2)
    allowed = _allowed_child_keys(changed, 1, 2)
    assert allowed == {
        0: set(base_keys),
        1: {lead + k for k in ((1, 0), (0, 1), (1, 1))},
    }
    df = _sibling_union_scan(spark, path, changed, 1, 2, cube)
    cols = ["lvl"] + (["t"] if cube else []) + ["tx", "ty"]
    got = [tuple(r) for r in df.select(*cols).collect()]
    assert sorted(got) == sorted((z,) + k for z, ks in allowed.items() for k in ks)
