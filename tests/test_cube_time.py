"""cube_time (cube_gap_fill / cube_composite) + read.reclassify.

Fixture: a hand-built 128x128 cube (tiles 64) over a NON-UNIFORM t domain
[0, 1, 2, 4, 6] — gap rules are specified in t units, not frame indices,
so uneven spacing is the case that distinguishes a correct implementation
from pandas ffill(limit=). One frame-tile is dropped from storage
entirely (sparse-cube absent plane) to pin the t-domain materialization.
Reference: independent per-pixel python replay of the fill/composite
rules (the engine path is vectorized numpy over Arrow groups; the test
path is a scalar loop — shared bugs are unlikely by construction).
"""

import numpy as np
import pytest

from pyramidscheme_jl_spark.functions.codec import decode_tile
from pyramidscheme_jl_spark.operators.build import PyramidSpec, _tile_row
from pyramidscheme_jl_spark.operators.cube import (
    CUBE_TILE_SCHEMA,
    write_cube_level,
)
from pyramidscheme_jl_spark.operators.cube_time import cube_composite, cube_gap_fill
from pyramidscheme_jl_spark.sources.catalog import write_multiscales

TS = [0, 1, 2, 4, 6]
BASE, TILE = 128, 64
DROPPED = (1, 0, 2)  # (tx, ty, t): frame-tile absent from storage


def _value(px, py, t):
    return float((3 * px + 5 * py + 11 * t) % 97)


def _missing(px, py, t):
    return (px + 2 * py + 3 * t) % 5 == 0


def _frame(t: int) -> np.ndarray:
    px = np.arange(BASE)[None, :]
    py = np.arange(BASE)[:, None]
    v = ((3 * px + 5 * py + 11 * t) % 97).astype(np.float64)
    v[(px + 2 * py + 3 * t) % 5 == 0] = np.nan
    return v


def _stored_stack() -> np.ndarray:
    """(T, BASE, BASE) as the engine should see it: mask + dropped tile."""
    s = np.stack([_frame(t) for t in TS])
    i = TS.index(DROPPED[2])
    s[i, DROPPED[1] * TILE : (DROPPED[1] + 1) * TILE,
      DROPPED[0] * TILE : (DROPPED[0] + 1) * TILE] = np.nan
    return s


@pytest.fixture(scope="module")
def cube_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cube_time") / "cube")
    spec = PyramidSpec(BASE, BASE, TILE)
    rows = []
    stored = _stored_stack()
    for i, t in enumerate(TS):
        for ty in range(2):
            for tx in range(2):
                if (tx, ty, t) == DROPPED:
                    continue
                arr = stored[i, ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE]
                rows.append(dict(_tile_row(spec, 0, tx, ty, arr), t=t))
    df = spark.createDataFrame(rows, CUBE_TILE_SCHEMA)
    write_cube_level(df, path, 0)
    write_multiscales(path, spec.nlevels, TILE, BASE, BASE, "mean", "x")
    return path


def _collect_cube(df) -> dict[int, np.ndarray]:
    out = {}
    for r in df.collect():
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
        plane = out.setdefault(int(r.t), np.full((BASE, BASE), np.nan))
        plane[r.ty * TILE : r.ty * TILE + r.h, r.tx * TILE : r.tx * TILE + r.w] = a
    return out


def _collect_plane(df) -> np.ndarray:
    out = np.full((BASE, BASE), np.nan)
    for r in df.collect():
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
        out[r.ty * TILE : r.ty * TILE + r.h, r.tx * TILE : r.tx * TILE + r.w] = a
    return out


def _ref_fill(method: str, max_gap=None) -> np.ndarray:
    """Scalar per-pixel replay of the documented fill rules."""
    stored = _stored_stack()
    out = stored.copy()
    for py in range(BASE):
        for px in range(BASE):
            series = stored[:, py, px]
            obs = [(TS[i], series[i]) for i in range(len(TS)) if not np.isnan(series[i])]
            for i, t in enumerate(TS):
                if not np.isnan(series[i]):
                    continue
                prev = [(tp, v) for tp, v in obs if tp < t]
                nxt = [(tn, v) for tn, v in obs if tn > t]
                if method == "locf":
                    if prev:
                        tp, v = prev[-1]
                        if max_gap is None or t - tp <= max_gap:
                            out[i, py, px] = v
                else:
                    if prev and nxt:
                        tp, pv = prev[-1]
                        tn, nv = nxt[0]
                        if max_gap is None or tn - tp - 1 <= max_gap:
                            out[i, py, px] = (pv * (tn - t) + nv * (t - tp)) / (tn - tp)
    return out


def _assert_cube_equal(got: dict[int, np.ndarray], ref: np.ndarray):
    for i, t in enumerate(TS):
        plane = got.get(t)
        if plane is None:
            assert np.isnan(ref[i]).all(), f"t={t} missing but ref has data"
            continue
        both_nan = np.isnan(plane) & np.isnan(ref[i])
        assert (both_nan | (plane == ref[i])).all(), f"t={t} mismatch"


def test_gap_fill_locf_unbounded(spark, cube_path):
    got = _collect_cube(cube_gap_fill(spark, cube_path, method="locf"))
    _assert_cube_equal(got, _ref_fill("locf"))
    # the dropped frame-tile came back with carried values
    sl = got[DROPPED[2]][
        DROPPED[1] * TILE : (DROPPED[1] + 1) * TILE,
        DROPPED[0] * TILE : (DROPPED[0] + 1) * TILE,
    ]
    assert np.isfinite(sl).any()


def test_gap_fill_locf_max_gap_t_units(spark, cube_path):
    # ts [0,1,2,4,6]: an obs at t=2 may serve t=4 (distance 2) but not
    # t=6 under max_gap=2 — index distance would say otherwise
    got = _collect_cube(cube_gap_fill(spark, cube_path, method="locf", max_gap=2))
    _assert_cube_equal(got, _ref_fill("locf", max_gap=2))


def test_gap_fill_linear_exact(spark, cube_path):
    got = _collect_cube(cube_gap_fill(spark, cube_path, method="linear"))
    ref = _ref_fill("linear")
    _assert_cube_equal(got, ref)
    # leading/trailing gaps stay NaN (limit_area=inside): any pixel
    # missing at t=0 has no prev -> NaN survives
    m0 = np.isnan(_stored_stack()[0])
    assert np.isnan(got[0][m0]).all()


@pytest.mark.parametrize("method", ["locf", "linear"])
def test_gap_fill_chunked_bit_identical(spark, cube_path, method):
    base = _collect_cube(cube_gap_fill(spark, cube_path, method=method, max_gap=2))
    chunk = _collect_cube(
        cube_gap_fill(spark, cube_path, method=method, max_gap=2, t_chunk=2)
    )
    for t in TS:
        a, b = base.get(t), chunk.get(t)
        assert (a is None) == (b is None)
        if a is not None:
            both_nan = np.isnan(a) & np.isnan(b)
            assert (both_nan | (a == b)).all(), f"t={t} chunked diverges"


def test_gap_fill_chunk_requires_max_gap(spark, cube_path):
    with pytest.raises(ValueError, match="max_gap"):
        cube_gap_fill(spark, cube_path, method="locf", t_chunk=2)


def _ref_composite(stat: str):
    stored = _stored_stack()
    val = np.full((BASE, BASE), np.nan)
    argt = np.full((BASE, BASE), np.nan)
    for py in range(BASE):
        for px in range(BASE):
            obs = [(TS[i], stored[i, py, px]) for i in range(len(TS))
                   if not np.isnan(stored[i, py, px])]
            if not obs:
                continue
            if stat == "max":
                v = max(o[1] for o in obs)
                t = min(t for t, o in obs if o == v)
            elif stat == "last":
                t, v = obs[-1]
            elif stat == "mean":
                v, t = sum(o[1] for o in obs) / len(obs), np.nan
            elif stat == "count":
                v, t = float(len(obs)), np.nan
            val[py, px], argt[py, px] = v, t
    return val, argt


@pytest.mark.parametrize("stat", ["max", "last", "mean", "count"])
def test_composite(spark, cube_path, stat):
    refv, reft = _ref_composite(stat)
    got = _collect_plane(cube_composite(spark, cube_path, stat=stat))
    both_nan = np.isnan(got) & np.isnan(refv)
    assert (both_nan | (got == refv)).all(), f"{stat} value plane mismatch"
    if stat in ("max", "last"):
        gt = _collect_plane(cube_composite(spark, cube_path, stat=stat, argt=True))
        both_nan = np.isnan(gt) & np.isnan(reft)
        assert (both_nan | (gt == reft)).all(), f"{stat} argt plane mismatch"


def test_composite_argt_invalid_stat(spark, cube_path):
    with pytest.raises(ValueError, match="argt"):
        cube_composite(spark, cube_path, stat="mean", argt=True)


# --- reclassify ------------------------------------------------------------


def test_reclassify(spark, cube_path):
    from pyramidscheme_jl_spark.operators.cube import cube_slice, read_cube_level
    from pyramidscheme_jl_spark.operators.read import reclassify

    tiles = cube_slice(read_cube_level(spark, cube_path, 0), 0)
    out = reclassify(tiles, [(0, 30, 1), (30, 60, 2), (60, 97, 3)])
    got = _collect_plane(out)
    src = _stored_stack()[0]
    ref = np.where(src < 30, 1.0, np.where(src < 60, 2.0, 3.0))
    ref = np.where(np.isnan(src), np.nan, ref)
    both_nan = np.isnan(got) & np.isnan(ref)
    assert (both_nan | (got == ref)).all()


def test_reclassify_validation(spark):
    from pyramidscheme_jl_spark.operators.read import reclassify

    with pytest.raises(ValueError, match="overlap"):
        reclassify(None, [(0, 10, 1), (5, 15, 2)])
    with pytest.raises(ValueError, match="empty bin"):
        reclassify(None, [(10, 10, 1)])
    with pytest.raises(ValueError, match="NaN"):
        reclassify(None, [(0, 10, 1)], dtype="int32")


# ---------------------------------------------------------------------------
# cube_trend (r8): per-pixel OLS slope / intercept / nobs along t
# ---------------------------------------------------------------------------


def _ref_trend(stat: str) -> np.ndarray:
    stored = _stored_stack()
    out = np.full((BASE, BASE), np.nan)
    for py in range(BASE):
        for px in range(BASE):
            obs = [(TS[i], stored[i, py, px]) for i in range(len(TS))
                   if not np.isnan(stored[i, py, px])]
            if stat == "nobs":
                if obs:
                    out[py, px] = float(len(obs))
                continue
            if len(obs) < 2:
                continue
            t = np.array([o[0] for o in obs], dtype=np.float64)
            v = np.array([o[1] for o in obs], dtype=np.float64)
            # independent route: numpy polyfit (QR-based, not the moment
            # closed form the engine uses)
            b, a = np.polyfit(t, v, 1)
            out[py, px] = b if stat == "slope" else a
    return out


@pytest.mark.parametrize("stat", ["slope", "intercept", "nobs"])
def test_cube_trend_matches_polyfit(spark, cube_path, stat):
    from pyramidscheme_jl_spark.operators.cube_time import cube_trend

    got = _collect_plane(cube_trend(spark, cube_path, stat=stat))
    ref = _ref_trend(stat)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(ref))
    m = ~np.isnan(ref)
    if stat == "nobs":
        np.testing.assert_array_equal(got[m], ref[m])
    else:
        np.testing.assert_allclose(got[m], ref[m], rtol=1e-9, atol=1e-9)


def test_cube_trend_single_division_bitwise(spark, cube_path):
    """The portability contract: the slope must be BIT-IDENTICAL to one
    IEEE division of the exact integer moment sums (what the DuckDB twin
    computes) — not merely close."""
    from pyramidscheme_jl_spark.operators.cube_time import cube_trend

    got = _collect_plane(cube_trend(spark, cube_path, stat="slope"))
    stored = _stored_stack()
    ref = np.full((BASE, BASE), np.nan)
    for py in range(BASE):
        for px in range(BASE):
            obs = [(TS[i], int(stored[i, py, px])) for i in range(len(TS))
                   if not np.isnan(stored[i, py, px])]
            if len(obs) < 2:
                continue
            n = len(obs)
            st = sum(t for t, _ in obs)
            stt = sum(t * t for t, _ in obs)
            sv = sum(v for _, v in obs)
            stv = sum(t * v for t, v in obs)
            num = n * stv - st * sv          # exact python ints
            den = n * stt - st * st
            ref[py, px] = float(num) / float(den)  # ONE IEEE division
    m = ~np.isnan(ref)
    np.testing.assert_array_equal(np.isnan(got), ~m)
    np.testing.assert_array_equal(got[m], ref[m])  # bitwise


def test_cube_trend_validation(spark, cube_path):
    from pyramidscheme_jl_spark.operators.cube_time import cube_trend

    with pytest.raises(ValueError, match="stat must be"):
        cube_trend(spark, cube_path, stat="variance")


# ---------------------------------------------------------------------------
# cube_anomaly (r8): per-pixel climatology deviation, t preserved
# ---------------------------------------------------------------------------


def test_cube_anomaly_matches_replay(spark, cube_path):
    from pyramidscheme_jl_spark.operators.cube_time import cube_anomaly

    rows = cube_anomaly(spark, cube_path).collect()
    got = np.full((len(TS), BASE, BASE), np.nan)
    for r in rows:
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
        got[TS.index(r.t), r.ty * TILE : r.ty * TILE + r.h,
            r.tx * TILE : r.tx * TILE + r.w] = a
    stored = _stored_stack()
    obs = ~np.isnan(stored)
    mean = np.nanmean(np.where(obs, stored, np.nan), axis=0)
    ref = stored - mean[None, :, :]
    np.testing.assert_array_equal(np.isnan(got), np.isnan(ref))
    m = ~np.isnan(ref)
    np.testing.assert_allclose(got[m], ref[m], rtol=1e-12, atol=1e-12)
    # single-observation pixels anomalize to EXACTLY zero
    single = obs.sum(axis=0) == 1
    for i in range(len(TS)):
        sm = single & obs[i]
        assert np.all(got[i][sm] == 0.0)


# ---------------------------------------------------------------------------
# cube_rolling (r8): trailing frame-window stats, NaN-aware, chunk+halo
# ---------------------------------------------------------------------------


def _collect_rolling(df):
    got = np.full((len(TS), BASE, BASE), np.nan)
    for r in df.collect():
        a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
        got[TS.index(r.t), r.ty * TILE : r.ty * TILE + r.h,
            r.tx * TILE : r.tx * TILE + r.w] = a
    return got


def _ref_rolling(stat, window, min_periods):
    """Scalar per-pixel replay: trailing FRAME windows over the dense
    index (uneven TS spacing deliberately ignored — xarray semantics)."""
    stored = _stored_stack()
    out = np.full_like(stored, np.nan)
    for py in range(BASE):
        for px in range(BASE):
            series = stored[:, py, px]
            for i in range(len(TS)):
                vals = [series[j] for j in range(max(0, i - window + 1), i + 1)
                        if not np.isnan(series[j])]
                if len(vals) < min_periods:
                    continue
                if stat == "mean":
                    out[i, py, px] = float(np.sum(vals)) / len(vals)
                elif stat == "sum":
                    out[i, py, px] = float(np.sum(vals))
                elif stat == "min":
                    out[i, py, px] = min(vals)
                elif stat == "max":
                    out[i, py, px] = max(vals)
                elif stat == "count":
                    out[i, py, px] = float(len(vals))
    return out


@pytest.mark.parametrize("stat,mp", [("mean", 1), ("min", 2), ("count", 1)])
def test_cube_rolling_matches_replay(spark, cube_path, stat, mp):
    from pyramidscheme_jl_spark.operators.cube_time import cube_rolling

    got = _collect_rolling(
        cube_rolling(spark, cube_path, stat=stat, window=3, min_periods=mp))
    ref = _ref_rolling(stat, 3, mp)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(ref))
    m = ~np.isnan(ref)
    np.testing.assert_array_equal(got[m], ref[m])  # bitwise: same op order


def test_cube_rolling_chunked_bit_identical(spark, cube_path):
    from pyramidscheme_jl_spark.operators.cube_time import cube_rolling

    full = _collect_rolling(
        cube_rolling(spark, cube_path, stat="mean", window=3))
    chunked = _collect_rolling(
        cube_rolling(spark, cube_path, stat="mean", window=3, t_chunk=2))
    np.testing.assert_array_equal(np.isnan(full), np.isnan(chunked))
    m = ~np.isnan(full)
    np.testing.assert_array_equal(full[m], chunked[m])


def test_cube_rolling_validation(spark, cube_path):
    from pyramidscheme_jl_spark.operators.cube_time import cube_rolling

    with pytest.raises(ValueError, match="stat must be"):
        cube_rolling(spark, cube_path, stat="median")
    with pytest.raises(ValueError, match="window"):
        cube_rolling(spark, cube_path, window=0)
    with pytest.raises(ValueError, match="min_periods"):
        cube_rolling(spark, cube_path, window=2, min_periods=3)
    with pytest.raises(ValueError, match="t_chunk"):
        cube_rolling(spark, cube_path, t_chunk=0)


@pytest.mark.parametrize(
    "op", ["cube_gap_fill", "cube_composite", "cube_rolling", "cube_anomaly", "cube_trend"]
)
def test_level_out_of_range_fails_at_call_time(spark, cube_path, op):
    """A level past the cube's pyramid is refused by the shared level
    check before any scan runs (not by Spark's analyzer inside the
    t-domain scan)."""
    from pyramidscheme_jl_spark.operators import cube_time

    z = PyramidSpec(BASE, BASE, TILE).nlevels + 1
    with pytest.raises(ValueError, match="out of range"):
        getattr(cube_time, op)(spark, cube_path, z=z)


# ---------------------------------------------------------------------------
# one drop rule: stored all-NaN frame tiles emit exactly the sparse tile set
# ---------------------------------------------------------------------------

NAN_TS = [0, 1, 2, 3]
NAN_BASE, NAN_TILE = 32, 16


@pytest.fixture(scope="module")
def nan_cube_path(spark, tmp_path_factory):
    """2x2 tiles, every frame tile STORED (none absent): (0,0) all-NaN at
    every t, (1,0) all-NaN at t=0, (0,1) observed only at t=1, (1,1)
    observed at every t."""
    path = str(tmp_path_factory.mktemp("cube_nan") / "cube")
    spec = PyramidSpec(NAN_BASE, NAN_BASE, NAN_TILE)
    observed = {(0, 0): set(), (1, 0): {1, 2, 3}, (0, 1): {1}, (1, 1): set(NAN_TS)}
    py, px = np.mgrid[0:NAN_TILE, 0:NAN_TILE]
    rows = []
    for t in NAN_TS:
        for (tx, ty), ts in observed.items():
            arr = ((px + 2 * py + 3 * t + tx) % 17).astype(np.float64)
            if t not in ts:
                arr[:] = np.nan
            rows.append(dict(_tile_row(spec, 0, tx, ty, arr), t=t))
    write_cube_level(spark.createDataFrame(rows, CUBE_TILE_SCHEMA), path, 0)
    write_multiscales(path, spec.nlevels, NAN_TILE, NAN_BASE, NAN_BASE, "mean", "x")
    return path


_ALL = set(NAN_TS)
_NAN_CUBE_TILES = [
    # cube ops: {(tx, ty): emitted t}; a frame whose output is NaN
    # everywhere (leading gaps, nothing to fill from) is not emitted
    ("cube_gap_fill", dict(method="locf"), {(1, 0): {1, 2, 3}, (0, 1): {1, 2, 3}, (1, 1): _ALL}),
    ("cube_gap_fill", dict(method="locf", max_gap=1, t_chunk=2),
     {(1, 0): {1, 2, 3}, (0, 1): {1, 2}, (1, 1): _ALL}),
    ("cube_gap_fill", dict(method="linear"), {(1, 0): {1, 2, 3}, (0, 1): {1}, (1, 1): _ALL}),
    ("cube_rolling", dict(stat="mean", window=2), {(1, 0): {1, 2, 3}, (0, 1): {1, 2}, (1, 1): _ALL}),
    ("cube_rolling", dict(stat="count", window=2, t_chunk=1),
     {(1, 0): {1, 2, 3}, (0, 1): {1, 2}, (1, 1): _ALL}),
    ("cube_anomaly", {}, {(1, 0): {1, 2, 3}, (0, 1): {1}, (1, 1): _ALL}),
    # plane ops: emitted tiles; a tile with no observation at any t is not
    # emitted, even for count (all zeros) — and a slope needs 2 observations
    ("cube_composite", dict(stat="count"), {(1, 0), (0, 1), (1, 1)}),
    ("cube_composite", dict(stat="mean"), {(1, 0), (0, 1), (1, 1)}),
    ("cube_composite", dict(stat="max", argt=True), {(1, 0), (0, 1), (1, 1)}),
    ("cube_composite", dict(stat="first"), {(1, 0), (0, 1), (1, 1)}),
    ("cube_trend", dict(stat="nobs"), {(1, 0), (0, 1), (1, 1)}),
    ("cube_trend", dict(stat="slope"), {(1, 0), (1, 1)}),
]


@pytest.mark.parametrize(
    "op,kw,want", _NAN_CUBE_TILES,
    ids=[f"{op}-{'-'.join(map(str, kw.values()))}" for op, kw, _ in _NAN_CUBE_TILES],
)
def test_stored_all_nan_tiles_emit_the_sparse_tile_set(spark, nan_cube_path, op, kw, want):
    from pyramidscheme_jl_spark.operators import cube_time

    rows = getattr(cube_time, op)(spark, nan_cube_path, **kw).collect()
    if isinstance(want, dict):
        got = {}
        for r in rows:
            got.setdefault((r.tx, r.ty), set()).add(r.t)
    else:
        got = {(r.tx, r.ty) for r in rows}
        assert len(rows) == len(got)
    assert got == want
    for r in rows:  # no emitted tile is NaN everywhere
        assert np.isfinite(decode_tile(r.bytes, r.h, r.w, r.dtype, r.c)).any()
