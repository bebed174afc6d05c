"""raster_proximity (raster.raster_proximity): exact squared Euclidean
distance to the nearest target-valued pixel within max_radius, computed
by a separable two-stage EDT over the focal halo exchange. Oracle: brute
minimum over all targets in numpy.
"""

import numpy as np
import pytest

from pyramidscheme_jl_spark.functions.codec import decode_tile
from pyramidscheme_jl_spark.operators.build import PyramidSpec, _rows_to_pdf, _tile_row
from pyramidscheme_jl_spark.operators import raster
from pyramidscheme_jl_spark.operators.raster import raster_proximity
from pyramidscheme_jl_spark.sources.catalog import write_level_driver, write_multiscales

TS = 32


def _write_plane(spark, a, path):
    h, w = a.shape
    spec = PyramidSpec(w, h, TS)
    rows = []
    for ty in range(-(-h // TS)):
        for tx in range(-(-w // TS)):
            rows.append(_tile_row(spec, 0, tx, ty, a[ty*TS:(ty+1)*TS, tx*TS:(tx+1)*TS]))
    write_level_driver(_rows_to_pdf(rows).to_dict("records"), path, 0)
    write_multiscales(path, 0, TS, w, h, "none", "-")


def _brute(a, target, rmax):
    h, w = a.shape
    tys, txs = np.where(np.nan_to_num(a, nan=np.inf) == target)
    out = np.full((h, w), -1, dtype=np.int64)
    if tys.size == 0:
        return out
    yy, xx = np.mgrid[0:h, 0:w]
    d2 = ((yy[..., None] - tys) ** 2 + (xx[..., None] - txs) ** 2).min(axis=2)
    return np.where(d2 <= rmax * rmax, d2, -1)


def _collect(df, h, w):
    got = np.full((h, w), -1, dtype=np.int64)
    for r in df.collect():
        assert r.dtype == "int64" and r.z == 0
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c)
        got[r.ty*TS:r.ty*TS+r.h, r.tx*TS:r.tx*TS+r.w] = a
    return got


@pytest.fixture(scope="module")
def plane():
    """96x96 plane, 32px tiles (full: the halo contract caps the radius
    at the smallest tile dim): scattered targets (value 7) including a
    pair straddling a tile boundary, NaN holes, and a target-free corner
    farther than any radius under test."""
    rng = np.random.RandomState(5)
    a = rng.randint(0, 5, size=(96, 96)).astype(np.float64)
    a[10:14, 20:22] = np.nan            # nodata hole near a target
    for (y, x) in [(5, 5), (31, 33), (33, 31), (60, 2), (12, 22), (70, 40)]:
        a[y, x] = 7.0                   # targets (cross the 32px grid)
    return a


@pytest.fixture(scope="module")
def plane_path(spark, plane, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prox") / "pyr")
    _write_plane(spark, plane, path)
    return path


@pytest.mark.parametrize("rmax", [3, 11, 30])
def test_proximity_matches_brute_force(spark, plane, plane_path, rmax):
    got = _collect(raster_proximity(spark, plane_path, 7.0, rmax), 96, 96)
    want = _brute(plane, 7.0, rmax)
    # engine drops all-unreachable tiles -> those stay -1 in _collect, as
    # in the brute plane
    np.testing.assert_array_equal(got, want)


def test_proximity_ragged_tiles(spark, tmp_path):
    """Ragged bottom/right tiles at a legal radius (<= smallest tile dim)."""
    rng = np.random.RandomState(6)
    a = rng.randint(0, 3, size=(80, 80)).astype(np.float64)  # 16px ragged
    for (y, x) in [(2, 78), (78, 3), (40, 40)]:
        a[y, x] = 9.0
    path = str(tmp_path / "pyr")
    _write_plane(spark, a, path)
    got = _collect(raster_proximity(spark, path, 9.0, 12), 80, 80)
    np.testing.assert_array_equal(got, _brute(a, 9.0, 12))


def test_proximity_no_targets_yields_empty(spark, plane_path):
    assert raster_proximity(spark, plane_path, 123.0, 10).count() == 0


def test_proximity_validation(spark, plane_path):
    with pytest.raises(ValueError, match="max_radius"):
        raster_proximity(spark, plane_path, 7.0, 0)


@pytest.fixture(scope="module")
def ragged_path(spark, tmp_path_factory):
    """80x80 plane on 32px tiles: the last tile row/column is 16px."""
    a = np.random.RandomState(7).randint(0, 3, size=(80, 80)).astype(np.float64)
    path = str(tmp_path_factory.mktemp("ragged") / "pyr")
    _write_plane(spark, a, path)
    return path


_HALO_CALLS = {
    "focal_stats": lambda s, p, r: raster.focal_stats(s, p, radius=r),
    "raster_proximity": lambda s, p, r: raster.raster_proximity(s, p, 1.0, r),
    "fillnodata": lambda s, p, r: raster.fillnodata(s, p, 0.0, r),
    "focal_apply": lambda s, p, r: raster.focal_apply(s, p, lambda pad, v, k: pad[k:-k, k:-k], radius=r),
}


@pytest.mark.parametrize("op", sorted(_HALO_CALLS))
def test_halo_radius_bound_fails_at_call_time(spark, ragged_path, op):
    """A radius past the smallest (ragged, 16px) tile dimension is refused
    when the operator is called — a ValueError naming the operator, not a
    lazy frame that fails inside a Python worker at collect()."""
    call = _HALO_CALLS[op]
    with pytest.raises(ValueError, match=f"{op}.*16 px"):
        call(spark, ragged_path, 20)
    call(spark, ragged_path, 16).count()  # the bound itself runs
