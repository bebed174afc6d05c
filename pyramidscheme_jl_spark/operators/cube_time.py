"""Temporal analytics over (x, y, t) cube pyramids: gap fill, composite,
rolling, anomaly and trend, all computed ALONG the t axis.

The reference passes non-spatial dims through untouched
(PyramidScheme.jl, src/PyramidScheme.jl:229-233) and never computes
along them; a production raster time-series engine needs exactly those
arrows — fill the t axis (cloud-gap interpolation: LOCF / linear),
reduce it (max-value / most-recent composites, per-pixel trend) and map
it (rolling windows, climatology anomalies). North-rule surface, not
port surface.

One stage, ``_t_stage``, runs all five operators; each operator keeps
only its argument checks and its numpy kernel:

- the level is checked (``api._level_spec``), the t domain resolved
  once (dims-sized: |t| values, never pixel data) so frames absent from
  storage (sparse cubes drop all-nodata tiles) still enter the kernel
  as all-NaN planes, and the level scanned;
- the only shuffle is one ``groupBy(tx, ty)`` ``applyInPandas`` (plus a
  chunk id ``ck`` in chunked mode) — tile bytes move once, keyed by the
  same tile key every other cube op uses;
- each group is decoded once into a (T, h, w[, c]) float64 stack and
  the kernel maps it, with its ``ts``, to one plane per frame (CUBE_TILE_SCHEMA
  rows: fill, rolling, anomaly) or to one plane (TILE_SCHEMA rows:
  composite, trend) — one vectorized numpy pass, no per-pixel or
  per-frame Python loops;
- one drop rule: a plane that is NaN everywhere is not emitted
  (sparse-cube semantics), so every kernel returns NaN wherever its
  operator has no output;
- arithmetic is engine-portable by construction: observed values pass
  through bit-identically, and a linear fill, a mean, an anomaly or a
  trend is exact integer-range sums plus ONE IEEE division (the
  warp/focal oracle discipline), so a SQL twin reproduces every pixel
  bit-for-bit.

Scale note (T >> memory): a kernel whose output frame reads at most
``before`` frames back and ``after`` frames ahead runs chunked with
``t_chunk=C``: each frame is exploded to every chunk whose window
``[ck*C - before, (ck+1)*C + after)`` holds it, groups become
``(tx, ty, ck)`` of at most C + before + after frames, and each group
emits only its home frames ``[ck*C, (ck+1)*C)`` — the focal halo
exchange rotated onto the t axis. A bounded gap fill (``max_gap=g``)
reads g+1 frames each side; a trailing rolling window reads
``window - 1`` back and none ahead. Memory per group is O(C) frames at
any series length.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import _level_spec
from ..sources.catalog import TILE_SCHEMA
from .build import _rows_to_pdf, _tile_row
from .cube import CUBE_TILE_SCHEMA, _cube_rows_to_pdf, read_cube_level


def _t_domain(spark: SparkSession, path: str, z: int, t_domain) -> np.ndarray:
    """Sorted int64 t values the cube covers. Explicit ``t_domain`` wins
    (serving path: the catalog knows its t extent — zero driver jobs);
    otherwise one dims-sized distinct scan (|t| rows, never tiles)."""
    if t_domain is not None:
        ts = np.asarray(sorted(int(t) for t in t_domain), dtype=np.int64)
    else:
        rows = (
            read_cube_level(spark, path, z).select("t").distinct().collect()
        )
        ts = np.asarray(sorted(int(r["t"]) for r in rows), dtype=np.int64)
    if ts.size == 0:
        raise ValueError(f"cube at {path} z={z} has no t slices")
    if np.unique(ts).size != ts.size:
        raise ValueError("t_domain has duplicate values")
    return ts


def _decode_group(pdf: pd.DataFrame, ts: np.ndarray):
    """Group frames -> a (T_local, h, w[, c]) float64 stack with NaN
    planes for absent frames; T_local covers ``ts`` (the chunk window in
    chunked mode)."""
    from ..functions.codec import decode_tile

    first = pdf.iloc[0]
    h, w, c = int(first["h"]), int(first["w"]), int(first["c"])
    shape = (h, w) if c == 1 else (h, w, c)
    pos = {int(t): i for i, t in enumerate(ts)}
    stack = np.full((ts.size, *shape), np.nan, dtype=np.float64)
    for row in pdf.itertuples(index=False):
        i = pos.get(int(row.t))
        if i is None:  # frame outside the requested window (chunk halo trim)
            continue
        a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
        if a.shape != shape:
            raise ValueError(
                f"cube tile ({row.tx},{row.ty}) t={row.t} shape {a.shape} != {shape}"
            )
        stack[i] = a.astype(np.float64, copy=False)
    return stack


def _t_stage(
    spark: SparkSession,
    path: str,
    z: int,
    t_domain,
    kernel,
    *,
    cube: bool = True,
    t_chunk: int | None = None,
    before: int = 0,
    after: int = 0,
) -> DataFrame:
    """The one plan behind every t-axis operator: check the level, resolve
    the t domain, scan, group by ``(tx, ty[, ck])``, decode each group once
    and call ``kernel(stack, ts)``. With ``cube`` the kernel returns one
    plane per frame of ``ts`` (CUBE_TILE_SCHEMA rows), otherwise one plane
    (TILE_SCHEMA rows); all-NaN planes are not emitted.

    ``t_chunk=C`` groups frames into chunks of C; a chunk's window adds the
    ``before``/``after`` frames its kernel reads, and it emits only its
    home frames."""
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz, nT = int(z), int(ts.size)
    C, keys = nT, ["tx", "ty"]
    if t_chunk is not None:
        C = int(t_chunk)
        if C <= 0:
            raise ValueError(f"t_chunk must be positive, got {t_chunk}")
        # t -> dense index, broadcast-joined (dims-sized map); a frame claims
        # every chunk whose window holds it. Shuffle volume
        # <= (1 + (before + after)/C) x level bytes.
        tmap = spark.createDataFrame(
            [(int(t), i) for i, t in enumerate(ts)], "t int, ti int"
        )
        tiles = tiles.join(F.broadcast(tmap), "t").withColumn(
            "ck",
            F.explode(
                F.expr(
                    f"sequence(GREATEST(ti - {after}, 0) DIV {C},"
                    f" LEAST(ti + {before}, {nT - 1}) DIV {C})"
                ).cast("array<int>")
            ),
        )
        keys.append("ck")

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        ck = int(key[2]) if t_chunk is not None else 0
        lo, hi = max(0, ck * C - before), min(nT, (ck + 1) * C + after)
        out = kernel(_decode_group(pdf, ts[lo:hi]), ts[lo:hi])
        if not cube:
            planes = [(out, {})]
        else:  # halo frames: the chunk they belong to emits them
            home = range(ck * C, min((ck + 1) * C, nT))
            planes = [(out[i - lo], {"t": int(ts[i])}) for i in home]
        rows = [
            dict(_tile_row(spec, zz, tx, ty, plane), **t)
            for plane, t in planes
            if not np.isnan(plane).all()
        ]
        return _cube_rows_to_pdf(rows) if cube else _rows_to_pdf(rows)

    schema = CUBE_TILE_SCHEMA if cube else TILE_SCHEMA
    return tiles.groupBy(*keys).applyInPandas(run, schema)


def _nan_unless_finite(planes: np.ndarray) -> np.ndarray:
    """NaN out every plane of ``planes`` (axis 0) with no finite pixel —
    anomaly and trend emit no tile that holds only NaN and +-inf."""
    planes[~np.isfinite(planes).reshape(len(planes), -1).any(axis=1)] = np.nan
    return planes


def _fill_stack(
    stack: np.ndarray, ts: np.ndarray, method: str, max_gap: int | None
) -> np.ndarray:
    """Vectorized fill along axis 0. Observed values pass through
    untouched; a linear fill is (pv*(tn-t) + nv*(t-tp)) / (tn-tp) — exact
    integer-valued products for integer rasters, one IEEE division."""
    T = stack.shape[0]
    tail = (1,) * (stack.ndim - 1)
    idx = np.arange(T, dtype=np.int64).reshape(-1, *tail)
    tcur = ts.reshape(-1, *tail).astype(np.float64)
    obs = ~np.isnan(stack)

    prev = np.maximum.accumulate(np.where(obs, idx, -1), axis=0)
    has_p = prev >= 0
    pclip = np.clip(prev, 0, T - 1)
    pv = np.take_along_axis(stack, pclip, axis=0)
    tp = ts[pclip].astype(np.float64)

    if method == "locf":
        ok = has_p
        if max_gap is not None:
            ok = ok & (tcur - tp <= float(max_gap))
        return np.where(obs, stack, np.where(ok, pv, np.nan))

    nxt = np.flip(
        np.minimum.accumulate(np.flip(np.where(obs, idx, T), axis=0), axis=0),
        axis=0,
    )
    has_n = nxt <= T - 1
    nclip = np.clip(nxt, 0, T - 1)
    nv = np.take_along_axis(stack, nclip, axis=0)
    tn = ts[nclip].astype(np.float64)

    fill = (~obs) & has_p & has_n
    if max_gap is not None:  # gap length in t units: tn - tp - 1
        fill = fill & (tn - tp - 1.0 <= float(max_gap))
    dt = np.where(fill, tn - tp, 1.0)
    vals = (pv * (tn - tcur) + nv * (tcur - tp)) / dt
    return np.where(fill, vals, stack)


def cube_gap_fill(
    spark: SparkSession,
    path: str,
    method: str = "locf",
    max_gap: int | None = None,
    z: int = 0,
    t_domain=None,
    t_chunk: int | None = None,
) -> DataFrame:
    """Fill nodata along the t axis of a stored cube level, per pixel.

    ``method="locf"`` carries the last observation forward (``max_gap``
    bounds the carry distance in t units); ``method="linear"`` fills
    interior gaps by exact linear interpolation between the bracketing
    observations (``max_gap`` bounds the filled gap LENGTH ``tn-tp-1``;
    leading/trailing gaps always stay NaN — pandas ``limit_area='inside'``
    semantics). Frames entirely absent from storage are treated as
    all-nodata planes over the cube's t domain and come back filled.

    Returns CUBE_TILE_SCHEMA rows at level ``z`` (float64 — filled cubes
    are analysis-grade; recompress with ``write_cube_level`` +
    ``level_dtype`` downstream if wanted). All-NaN output frames are
    dropped (sparse-cube semantics).

    ``t_chunk=C`` (requires ``max_gap``) bounds per-group memory to
    C + 2*(max_gap+1) frames via chunk+halo grouping — exact, because a
    bounded fill reads at most max_gap+1 frames to each side. Use it when
    the series is long (daily imagery for a decade); leave None when T is
    small and one gather per tile is cheapest.
    """
    if method not in ("locf", "linear"):
        raise ValueError(f"unknown gap-fill method {method!r} (locf|linear)")
    if t_chunk is not None and max_gap is None:
        raise ValueError("t_chunk requires max_gap (unbounded fills can't chunk)")
    # index influence <= t-unit influence (ts distinct ints, step >= 1)
    halo = 0 if max_gap is None else int(max_gap) + 1
    return _t_stage(
        spark, path, z, t_domain,
        lambda stack, ts: _fill_stack(stack, ts, method, max_gap),
        t_chunk=t_chunk, before=halo, after=halo,
    )


#: composite reducers: stack (T,...) float64 + ts -> value plane, or the
#: winning t plane with ``argt``. Ties and "which frame won" follow
#: GDAL/earth-engine mosaic conventions: first occurrence wins argmax/argmin
#: (smallest t), "last"/"first" pick the newest/oldest observation.
def _composite(stack: np.ndarray, ts: np.ndarray, stat: str, argt: bool):
    T = stack.shape[0]
    obs = ~np.isnan(stack)
    valid = obs.any(axis=0)
    if not valid.any():  # no observation anywhere in the tile: no tile
        return np.full(stack.shape[1:], np.nan)
    if stat == "count":
        return obs.sum(axis=0).astype(np.float64)
    if stat == "mean":
        n = obs.sum(axis=0)
        s = np.where(obs, stack, 0.0).sum(axis=0)  # exact for integer rasters
        return np.divide(s, n, out=np.full(n.shape, np.nan), where=n > 0)
    if stat == "max":
        am = np.argmax(np.where(obs, stack, -np.inf), axis=0)
    elif stat == "min":
        am = np.argmin(np.where(obs, stack, np.inf), axis=0)
    elif stat == "last":
        am = T - 1 - np.argmax(np.flip(obs, axis=0), axis=0)
    else:  # first
        am = np.argmax(obs, axis=0)
    if argt:
        return np.where(valid, ts[am].astype(np.float64), np.nan)
    return np.where(
        valid, np.take_along_axis(stack, am[np.newaxis], axis=0)[0], np.nan
    )


def cube_composite(
    spark: SparkSession,
    path: str,
    stat: str = "max",
    z: int = 0,
    t_domain=None,
    argt: bool = False,
) -> DataFrame:
    """Reduce a stored cube level ALONG t, per pixel: the satellite
    mosaic/composite family. ``stat``:

    - ``"max"`` / ``"min"`` — best-pixel composite (max-NDVI rule); ties
      resolve to the SMALLEST t (numpy first-occurrence, pinned in tests);
    - ``"last"`` / ``"first"`` — most-recent / oldest observation
      (the classic cloud-free mosaic rule);
    - ``"mean"`` — per-pixel skipmissing mean (exact integer sum, one
      IEEE division — engine-portable);
    - ``"count"`` — per-pixel observation count.

    ``argt=True`` (max/min/last/first only) returns the WINNING T plane
    instead of the value plane — float64 with NaN where no observation
    exists, so it composes with every raster op (histogram, zonal,
    write_level). Two calls give value + provenance planes; both reuse
    the same single ``groupBy(tx, ty)`` gather.

    Returns TILE_SCHEMA rows at level ``z`` of a NEW single-slice raster
    (composites are ordinary rasters: write_level + build_overviews
    re-pyramid them). Pixels never observed at any t are NaN; tiles with
    no observation at any t are dropped.

    Scale: max/min/mean/count/first/last are all decomposable along t, so
    at T >> memory this gather can run as tree partials (composite each
    storage split, then composite the partials) — the single-gather shape
    here is the T-fits-in-a-group case, which covers multi-year satellite
    stacks at daily cadence (a (365*10, 256, 256) float64 stack is 1.9 GB;
    chunk via two passes of this same op at coarser t buckets if bigger).
    """
    if stat not in ("max", "min", "mean", "count", "first", "last"):
        raise ValueError(
            f"unknown composite stat {stat!r} (max|min|mean|count|first|last)"
        )
    if argt and stat not in ("max", "min", "last", "first"):
        raise ValueError(f"argt is undefined for stat={stat!r}")
    return _t_stage(
        spark, path, z, t_domain,
        lambda stack, ts: _composite(stack, ts, stat, argt),
        cube=False,
    )


CUBE_ROLLING_STATS = ("mean", "sum", "min", "max", "count")


def _rolling_stack(
    stack: np.ndarray, stat: str, window: int, min_periods: int
) -> np.ndarray:
    """Trailing frame-window rolling stat along axis 0, NaN-aware.

    Output index i aggregates the OBSERVED values among frames
    [i-window+1, i] (clipped at 0); below ``min_periods`` observations
    the output is NaN — including ``count`` (the sparse-cube NaN
    convention; a 0-count is indistinguishable from absent storage).
    O(window) vectorized shift passes, the focal/EDT accumulation
    pattern rotated onto t."""
    T = stack.shape[0]
    obs = ~np.isnan(stack)
    n = np.zeros(stack.shape, dtype=np.int64)
    if stat in ("mean", "sum", "count"):
        s = np.zeros(stack.shape, dtype=np.float64)
        zf = np.where(obs, stack, 0.0)
        for j in range(min(window, T)):  # j = age of contributing frame
            s[j:] += zf[: T - j]
            n[j:] += obs[: T - j]
        if stat == "count":
            out = n.astype(np.float64)
        elif stat == "sum":
            out = s
        else:
            with np.errstate(invalid="ignore"):
                out = s / np.maximum(n, 1)
    else:
        fill = np.inf if stat == "min" else -np.inf
        ext = np.full(stack.shape, fill, dtype=np.float64)
        for j in range(min(window, T)):
            n[j:] += obs[: T - j]
            seg = np.where(obs[: T - j], stack[: T - j], fill)
            if stat == "min":
                np.minimum(ext[j:], seg, out=ext[j:])
            else:
                np.maximum(ext[j:], seg, out=ext[j:])
        out = ext
    return np.where(n >= max(1, int(min_periods)), out, np.nan)


def cube_rolling(
    spark: SparkSession,
    path: str,
    stat: str = "mean",
    window: int = 3,
    min_periods: int = 1,
    z: int = 0,
    t_domain=None,
    t_chunk: int | None = None,
) -> DataFrame:
    """Rolling temporal aggregate over a stored cube level, per pixel —
    the smoothing/accumulation pass every datacube stack ships (xarray
    ``.rolling(t=window)``, earth-engine moving composites): output
    frame t holds ``stat`` over the observed values among the trailing
    ``window`` FRAMES (dense t-domain indices, the xarray convention —
    not t units; resample first if cadence is uneven and units matter).

    NaN-aware: absent/NaN observations are skipped; outputs with fewer
    than ``min_periods`` observed values are NaN. ``stat`` in
    ``CUBE_ROLLING_STATS``; mean = exact integer sums + one IEEE divide
    for integer rasters (engine-portable).

    Returns CUBE_TILE_SCHEMA rows at level ``z`` (float64); all-NaN
    output frames are dropped (sparse-cube semantics).

    ``t_chunk=C`` bounds per-group memory to C + window - 1 frames via
    chunk+backward-halo grouping — exact, because a trailing window
    reads at most ``window - 1`` frames backward; a frame claims its
    home chunk plus the chunks its forward influence reaches. Shuffle
    volume <= (1 + (window-1)/C) x level bytes. Bit-identical to the
    unchunked path (pinned in tests); a window that starts at the cube
    origin clips there, as unchunked.

    Reference parity: none — PyramidScheme.jl has no temporal ops;
    north-rule datacube surface alongside ``cube_gap_fill``/
    ``cube_composite``.
    """
    if stat not in CUBE_ROLLING_STATS:
        raise ValueError(f"stat must be one of {CUBE_ROLLING_STATS}, got {stat!r}")
    window = int(window)
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not (1 <= int(min_periods) <= window):
        raise ValueError(
            f"min_periods must be in [1, window], got {min_periods}"
        )
    mp = int(min_periods)
    return _t_stage(
        spark, path, z, t_domain,
        lambda stack, ts: _rolling_stack(stack, stat, window, mp),
        t_chunk=t_chunk, before=window - 1,
    )


def _anomaly(stack: np.ndarray, ts: np.ndarray) -> np.ndarray:
    obs = ~np.isnan(stack)
    n = obs.sum(axis=0).astype(np.float64)
    sv = np.where(obs, stack, 0.0).sum(axis=0)
    with np.errstate(invalid="ignore"):
        return _nan_unless_finite((n * stack - sv) / n)  # one division, exact num


def cube_anomaly(
    spark: SparkSession,
    path: str,
    z: int = 0,
    t_domain=None,
) -> DataFrame:
    """Per-pixel ANOMALY cube: every observation minus its pixel's
    skipmissing mean along t (the xarray ``groupby('pixel') - mean('t')``
    climatology-deviation shape that precedes any trend/extreme
    analysis). Output is a CUBE (t preserved) with value
    ``v - Sv/n = (n*v - Sv)/n`` — exact integer numerator for integer-
    valued observations and ONE IEEE division, so anomalies are engine-
    portable bit-for-bit. NaN observations stay NaN; pixels observed
    once anomalize to exactly 0.

    Same single ``groupBy(tx, ty)`` gather as ``cube_composite`` — the
    mean is decomposable, so a T-too-big stack splits into a partial-
    sums pass plus a map pass (not needed at the in-group sizes this
    serves). Returns CUBE_TILE_SCHEMA rows; frames with no finite pixel
    drop.
    """
    return _t_stage(spark, path, z, t_domain, _anomaly)


def _trend(stack: np.ndarray, ts: np.ndarray, stat: str) -> np.ndarray:
    obs = ~np.isnan(stack)
    n = obs.sum(axis=0).astype(np.float64)
    if stat == "nobs":
        return np.where(n > 0, n, np.nan)
    tcol = ts.astype(np.float64).reshape(-1, *(1,) * (stack.ndim - 1))
    v0 = np.where(obs, stack, 0.0)
    st = (tcol * obs).sum(axis=0)
    stt = (tcol * tcol * obs).sum(axis=0)
    sv = v0.sum(axis=0)
    stv = (tcol * v0).sum(axis=0)
    den = n * stt - st * st  # > 0 iff n >= 2 (distinct t per frame)
    num = (n * stv - st * sv) if stat == "slope" else (stt * sv - st * stv)
    val = np.divide(num, den, out=np.full(den.shape, np.nan), where=den > 0)
    return _nan_unless_finite(val[np.newaxis])[0]


def cube_trend(
    spark: SparkSession,
    path: str,
    stat: str = "slope",
    z: int = 0,
    t_domain=None,
) -> DataFrame:
    """Per-pixel ORDINARY-LEAST-SQUARES trend along t over a stored cube
    level — the change-detection plane (NDVI greening/browning, land-
    surface-temperature trend): fit ``v ~ a + b*t`` per pixel over its
    VALID observations only and return

    - ``stat="slope"``:     ``b = (n*Stv - St*Sv) / (n*Stt - St^2)``,
    - ``stat="intercept"``: ``a = (Stt*Sv - St*Stv) / (n*Stt - St^2)``,
    - ``stat="nobs"``:      the per-pixel observation count ``n``,

    each as a single-division closed form over the moment sums — for
    integer-valued observations and t domains every moment is an exactly-
    representable integer, so slope/intercept are bit-portable (ONE IEEE
    division, the warp/focal discipline). Pixels with fewer than 2
    observations are NaN (no line through <2 points).

    Same plan shape as ``cube_composite`` (one ``groupBy(tx, ty)``
    gather; the moment sums are decomposable along t, so a T-too-big
    stack tree-reduces by t buckets). Returns TILE_SCHEMA rows — an
    ordinary raster plane (write_level / zonal / histogram compose);
    tiles with no finite pixel drop.

    Reference parity: none (PyramidScheme.jl has no time axis) —
    north-rule cube-analytics surface.
    """
    if stat not in ("slope", "intercept", "nobs"):
        raise ValueError(
            f"stat must be slope|intercept|nobs, got {stat!r}"
        )
    return _t_stage(
        spark, path, z, t_domain,
        lambda stack, ts: _trend(stack, ts, stat),
        cube=False,
    )
