"""Each oracle at a tiny size, and corrupted outputs counted as failures.

The numpy-only tests run in a second; the tests that drive the package
share one local Spark session."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import fixtures, oracles
from perfbench.workloads import Workload


def mosaic(offs):
    G = offs.shape[0]
    out = np.zeros((G * 256, G * 256))
    for gy in range(G):
        for gx in range(G):
            out[gy * 256:(gy + 1) * 256, gx * 256:(gx + 1) * 256] = fixtures.image_pixels(offs[gy, gx])
    return out


def test_block_means_match_brute_force():
    offs = np.array([[3, 250], [17, 128]])
    base = mosaic(offs)
    bm = oracles.BlockMeans()
    for z in (0, 1, 3):
        f = 1 << z
        full = base.reshape(512 // f, f, 512 // f, f).mean(axis=(1, 3))
        np.testing.assert_allclose(bm.window(offs, z, 0, 0, 512 // f, 512 // f), full)
        np.testing.assert_allclose(bm.window(offs, z, 5, 7, 40, 33), full[7:33, 5:40])


def test_pip_oracle_matches_package_kernel():
    from pyramidscheme_jl_spark.functions.cells import points_in_polygon
    from pyramidscheme_jl_spark.sources.synth import synth_polygons

    xy, polys = fixtures.pip_inputs(5, 4000, 1024.0, synth_polygons(1024.0))
    for p in polys:
        want = points_in_polygon(xy[:, 0], xy[:, 1], p["ring"])
        np.testing.assert_array_equal(oracles.points_in_ring(xy[:, 0], xy[:, 1], p["ring"]), want)


def test_read_extents_do_not_overlap():
    rng = np.random.default_rng(0)
    for _ in range(50):
        ext = fixtures.read_extents(rng, 8192.0, (0.5, 1.0, 2.0, 4.0, 8.0))
        assert sorted(e[2] - e[0] for e in ext) == pytest.approx([512.0, 1024.0, 2048.0, 4096.0, 8192.0])
        for i, a in enumerate(ext):
            assert 0 <= a[0] and a[2] <= 8192 and 0 <= a[1] and a[3] <= 8192
            step = 256 * max(1.0, (a[2] - a[0]) / 1024)  # tile side of the level read
            assert a[0] % step == 0 and a[1] % step == 0
            for b in ext[i + 1:]:
                assert a[0] >= b[2] or a[2] <= b[0] or a[1] >= b[3] or a[3] <= b[1]


def test_batch_slots_cover_every_level1_tile_once():
    rng = np.random.default_rng(1)
    for G in (4, 16):
        slots = fixtures.batch_slots(rng, G)
        gy, gx = np.divmod(slots, G)
        assert len(slots) == len(set(slots)) == (G // 2) ** 2
        assert len({(x // 2, y // 2) for x, y in zip(gx, gy)}) == (G // 2) ** 2


def test_inputs_are_seeded():
    a, b = fixtures.build_inputs(7, 8), fixtures.build_inputs(7, 8)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(fixtures.build_inputs(8, 8)[0], a[0])


def test_failed_check_counts_as_failed_op():
    wl = Workload(None, None, 0, None)

    def check(out):
        raise oracles.OracleMismatch("corrupt")

    wl.primary = wl.latency_kind = wl.work_kind = "op"
    assert wl.timed("op", lambda: 1, check=check, work=5) is None
    assert wl.timed("op", lambda: 1 / 0) is None
    assert wl.end_to_end() == {}  # nothing to measure, and no crash
    assert wl.timed("op", lambda: sum(range(5_000_000)) and 2, check=lambda out: None, work=5) == 2
    assert set(wl.end_to_end()) == {"op_cpu_p50_ms", "work_per_cpu_s"}
    assert set(wl.wall()) == {"op_p50_ms", "work_per_s"}
    assert [(o.ok, o.work) for o in wl.ops] == [(False, 0.0), (False, 0.0), (True, 5)]


# ---------------------------------------------------------------------------
# against the package, one shared local session
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import tempfile

    from perfbench.harness import Workdir, shutdown, start_session

    saved = os.environ.get("TMPDIR"), tempfile.tempdir
    work = Workdir(str(tmp_path_factory.mktemp("bench")))
    s = start_session(work, None)
    yield s
    shutdown(s)
    work.remove()
    if saved[0] is None:
        os.environ.pop("TMPDIR", None)
    else:
        os.environ["TMPDIR"] = saved[0]
    tempfile.tempdir = saved[1]


def corrupt_first_tile(level_dir):
    (name,) = [f for f in os.listdir(level_dir) if f.endswith(".parquet")][:1]
    path = os.path.join(level_dir, name)
    t = pq.read_table(path)
    b = t.column("bytes").to_pylist()
    a = bytearray(b[0])
    a[:8] = b"\xff" * 8
    b[0] = bytes(a)
    t = t.set_column(t.schema.get_field_index("bytes"), "bytes", pa.array(b, pa.binary()))
    pq.write_table(t, path)


def test_build_oracle_and_corruption(spark, tmp_path):
    from pyramidscheme_jl_spark.operators.build import build_pyramid

    G = 4
    offs, order = fixtures.build_inputs(3, G)
    fixtures.publish_images(str(tmp_path / "img"), "a.parquet", order, offs.ravel()[order])
    images = spark.read.parquet(str(tmp_path / "img"))
    path = str(tmp_path / "pyr")
    build_pyramid(spark, images, path, G=G, reducer="mean", run_id="t",
                  materialize_base=False, level_dtype="float32")
    bm = oracles.BlockMeans()
    assert oracles.check_build(path, offs, bm, 2, {}) == 4 + 1
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_build(path, offs[::-1], bm, 2, {})  # a different mosaic
    corrupt_first_tile(os.path.join(path, "tiles", "z=1"))
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_build(path, offs, bm, 2, {})


def test_ingest_last_writer_wins_oracle(spark, tmp_path):
    from pyramidscheme_jl_spark.api import PyramidDataset
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    G = 4
    initial, trace = fixtures.ingest_trace(4, G, 2, (0.5, 1.0))
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    fixtures.publish_images(src, "00000.parquet", range(G * G), initial.ravel())
    q = ingest_images(spark, src, dst, G=G, available_now=False, max_files_per_trigger=1,
                      max_delta_files=1, checkpoint_dir=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        offs = initial.copy()
        slots, new, _ = trace[0]
        fixtures.publish_images(src, "00001.parquet", slots, new)
        q.processAllAvailable()
        stale = offs.copy()
        offs.ravel()[slots] = new
        pyr = PyramidDataset.open(spark, dst)
        bm = oracles.BlockMeans()
        for ext in [(0.0, 0.0, 1024.0, 1024.0), (100.0, 300.0, 612.0, 556.0)]:
            r = pyr.read_window(ext)
            oracles.check_window(r, ext, offs, bm, 2)
            with pytest.raises(oracles.OracleMismatch):
                oracles.check_window(r, ext, stale, bm, 2)  # the pre-batch mosaic
    finally:
        q.stop()


def test_pip_oracle_against_join(spark):
    from pyspark.sql import functions as F
    from pyramidscheme_jl_spark.operators.joins import point_in_polygon_join, with_point_cells
    from pyramidscheme_jl_spark.sources.synth import POINTS_DDL, synth_polygons

    xy, polys = fixtures.pip_inputs(6, 3000, 1024.0, synth_polygons(1024.0))
    pts = spark.createDataFrame([(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(xy)], POINTS_DDL)
    got = dict(
        point_in_polygon_join(spark, with_point_cells(pts, 6, 1024.0), polys, 6, 1024.0)
        .groupBy("polygon_id").agg(F.count("*")).collect()
    )
    want = oracles.pip_counts(xy, polys)
    assert {k: got.get(k, 0) for k in want} == want
