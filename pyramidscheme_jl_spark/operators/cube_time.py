"""Temporal analytics over (x, y, t) cube pyramids: gap-filling and
per-pixel time compositing.

The reference passes non-spatial dims through untouched
(/root/reference/src/PyramidScheme.jl:229-233) and never computes ALONG
them; a production raster time-series engine needs exactly those two
missing arrows — fill the t axis (cloud-gap interpolation: LOCF /
linear) and reduce the t axis (max-value / most-recent composites, the
classic satellite mosaic rules). Both are north-rule surface, not port
surface.

Spark-first shape shared by both operators:

- the only shuffle is ``groupBy(tx, ty)`` (plus a chunk id in the
  bounded-gap mode) — tile bytes move once, keyed by the same tile key
  every other cube op uses, so AQE/bucketing can co-locate with
  downstream zonal/extract stages;
- the t domain is collected once (dims-sized: |t| values, never pixel
  data) so frames absent from storage (sparse cubes drop all-nodata
  tiles) are still filled/composited as all-NaN planes;
- per-group work is one vectorized numpy pass over a (T, h, w[, c])
  stack — no per-pixel or per-frame Python loops;
- arithmetic is engine-portable by construction: observed values pass
  through bit-identically, and a linear fill is two exact integer-range
  products plus ONE IEEE division (the warp/focal oracle discipline), so
  a SQL twin reproduces every filled pixel bit-for-bit.

Scale note (T >> memory): an unbounded fill genuinely needs the whole
series per pixel, but every *bounded* fill (``max_gap=g``) has influence
radius <= g+1 frames. ``t_chunk=C`` switches to chunked execution: each
frame is exploded to its home chunk plus neighbor chunks within the
halo, groups become ``(tx, ty, chunk)`` of at most C + 2*(g+1) frames,
and only chunk-interior frames are emitted — the focal halo exchange
pattern rotated onto the t axis. Memory per group is then O(C) frames at
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
    """Group frames -> (stack, meta). stack is (T_local, h, w[, c]) float64
    with NaN planes for absent frames; T_local covers ``ts`` (the caller
    restricts ts to the chunk window in chunked mode)."""
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

    if method != "linear":
        raise ValueError(f"unknown gap-fill method {method!r} (locf|linear)")

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
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz = int(z)

    if t_chunk is None:
        ts_local = ts

        def fill_all(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return _cube_rows_to_pdf([])
            tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
            stack = _decode_group(pdf, ts_local)
            out = _fill_stack(stack, ts_local, method, max_gap)
            rows = []
            for i, t in enumerate(ts_local):
                if np.isnan(out[i]).all():
                    continue
                rows.append(dict(_tile_row(spec, zz, tx, ty, out[i]), t=int(t)))
            return _cube_rows_to_pdf(rows)

        return tiles.groupBy("tx", "ty").applyInPandas(fill_all, CUBE_TILE_SCHEMA)

    if max_gap is None:
        raise ValueError("t_chunk requires max_gap (unbounded fills can't chunk)")
    C = int(t_chunk)
    if C <= 0:
        raise ValueError(f"t_chunk must be positive, got {t_chunk}")
    halo = int(max_gap) + 1  # index influence <= t-unit influence (ts ints, step>=1)
    nT = int(ts.size)
    nchunk = -(-nT // C)

    # t -> dense index, broadcast-joined (dims-sized map); each frame claims
    # its home chunk plus neighbors its halo reaches — the focal halo
    # exchange rotated onto t. Shuffle volume <= (1 + 2*halo/C) x level bytes.
    tmap = spark.createDataFrame(
        [(int(t), i) for i, t in enumerate(ts)], "t int, ti int"
    )
    claimed = tiles.join(F.broadcast(tmap), "t").withColumn(
        "ck",
        F.explode(
            F.expr(
                f"sequence(GREATEST(ti - {halo}, 0) DIV {C},"
                f" LEAST(ti + {halo}, {nT - 1}) DIV {C})"
            ).cast("array<int>")
        ),
    )

    def fill_chunk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty, ck = int(key[0]), int(key[1]), int(key[2])
        lo = max(0, ck * C - halo)
        hi = min(nT, (ck + 1) * C + halo)
        ts_win = ts[lo:hi]
        stack = _decode_group(pdf, ts_win)
        out = _fill_stack(stack, ts_win, method, max_gap)
        rows = []
        for i in range(lo, hi):
            if not (ck * C <= i < min((ck + 1) * C, nT)):
                continue  # halo frame: another chunk emits it
            plane = out[i - lo]
            if np.isnan(plane).all():
                continue
            rows.append(dict(_tile_row(spec, zz, tx, ty, plane), t=int(ts[i])))
        return _cube_rows_to_pdf(rows)

    return claimed.groupBy("tx", "ty", "ck").applyInPandas(
        fill_chunk, CUBE_TILE_SCHEMA
    )


#: composite reducers: stack (T,...) float64 + obs mask + ts -> (value
#: plane, chosen-index plane or None). Ties and "which frame won" follow
#: GDAL/earth-engine mosaic conventions: first occurrence wins argmax/argmin
#: (smallest t), "last"/"first" pick the newest/oldest observation.
def _composite(stack: np.ndarray, obs: np.ndarray, stat: str):
    T = stack.shape[0]
    valid = obs.any(axis=0)
    if stat == "max":
        am = np.argmax(np.where(obs, stack, -np.inf), axis=0)
    elif stat == "min":
        am = np.argmin(np.where(obs, stack, np.inf), axis=0)
    elif stat == "last":
        am = T - 1 - np.argmax(np.flip(obs, axis=0), axis=0)
    elif stat == "first":
        am = np.argmax(obs, axis=0)
    elif stat == "count":
        return obs.sum(axis=0).astype(np.float64), None, valid
    elif stat == "mean":
        n = obs.sum(axis=0)
        s = np.where(obs, stack, 0.0).sum(axis=0)  # exact for integer rasters
        val = np.divide(s, n, out=np.full(n.shape, np.nan), where=n > 0)
        return val, None, valid
    else:
        raise ValueError(
            f"unknown composite stat {stat!r} (max|min|mean|count|first|last)"
        )
    val = np.where(
        valid, np.take_along_axis(stack, am[np.newaxis], axis=0)[0], np.nan
    )
    return val, am, valid


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
    re-pyramid them). Pixels never observed at any t are NaN; all-NaN
    tiles are dropped.

    Scale: max/min/mean/count/first/last are all decomposable along t, so
    at T >> memory this gather can run as tree partials (composite each
    storage split, then composite the partials) — the single-gather shape
    here is the T-fits-in-a-group case, which covers multi-year satellite
    stacks at daily cadence (a (365*10, 256, 256) float64 stack is 1.9 GB;
    chunk via two passes of this same op at coarser t buckets if bigger).
    """
    if argt and stat not in ("max", "min", "last", "first"):
        raise ValueError(f"argt is undefined for stat={stat!r}")
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz = int(z)

    def reduce_t(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _rows_to_pdf([])
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        stack = _decode_group(pdf, ts)
        obs = ~np.isnan(stack)
        val, am, valid = _composite(stack, obs, stat)
        if argt:
            val = np.where(valid, ts[am].astype(np.float64), np.nan)
        if not valid.any():
            return _rows_to_pdf([])
        return _rows_to_pdf([_tile_row(spec, zz, tx, ty, val)])

    return tiles.groupBy("tx", "ty").applyInPandas(reduce_t, TILE_SCHEMA)


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
    unchunked path (pinned in tests).

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
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz = int(z)
    mp = int(min_periods)

    if t_chunk is None:
        ts_local = ts

        def roll_all(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return _cube_rows_to_pdf([])
            tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
            stack = _decode_group(pdf, ts_local)
            out = _rolling_stack(stack, stat, window, mp)
            rows = []
            for i, t in enumerate(ts_local):
                if np.isnan(out[i]).all():
                    continue
                rows.append(dict(_tile_row(spec, zz, tx, ty, out[i]), t=int(t)))
            return _cube_rows_to_pdf(rows)

        return tiles.groupBy("tx", "ty").applyInPandas(
            roll_all, CUBE_TILE_SCHEMA
        )

    C = int(t_chunk)
    if C <= 0:
        raise ValueError(f"t_chunk must be positive, got {t_chunk}")
    halo = window - 1
    nT = int(ts.size)

    tmap = spark.createDataFrame(
        [(int(t), i) for i, t in enumerate(ts)], "t int, ti int"
    )
    # trailing window: frame ti influences outputs [ti, ti + window - 1]
    claimed = tiles.join(F.broadcast(tmap), "t").withColumn(
        "ck",
        F.explode(
            F.expr(
                f"sequence(ti DIV {C},"
                f" LEAST(ti + {halo}, {nT - 1}) DIV {C})"
            ).cast("array<int>")
        ),
    )

    def roll_chunk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty, ck = int(key[0]), int(key[1]), int(key[2])
        lo = max(0, ck * C - halo)
        hi = min(nT, (ck + 1) * C)
        ts_win = ts[lo:hi]
        stack = _decode_group(pdf, ts_win)
        # indices < halo into the window are warm-up context unless the
        # window starts at the cube origin (lo == 0, where clipping is
        # the real semantics)
        out = _rolling_stack(stack, stat, window, mp)
        rows = []
        for i in range(lo, hi):
            if i < ck * C:
                continue  # halo frame: its home chunk emits it
            plane = out[i - lo]
            if np.isnan(plane).all():
                continue
            rows.append(dict(_tile_row(spec, zz, tx, ty, plane), t=int(ts[i])))
        return _cube_rows_to_pdf(rows)

    return claimed.groupBy("tx", "ty", "ck").applyInPandas(
        roll_chunk, CUBE_TILE_SCHEMA
    )


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
    serves). Returns CUBE_TILE_SCHEMA rows; all-NaN frames drop.
    """
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz = int(z)

    def anom(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _cube_rows_to_pdf([])
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        stack = _decode_group(pdf, ts)
        obs = ~np.isnan(stack)
        n = obs.sum(axis=0).astype(np.float64)
        sv = np.where(obs, stack, 0.0).sum(axis=0)
        out = []
        with np.errstate(invalid="ignore"):
            for i in range(stack.shape[0]):
                plane = (n * stack[i] - sv) / n  # one division, exact num
                if not np.isfinite(plane).any():
                    continue
                out.append(
                    dict(_tile_row(spec, zz, tx, ty, plane), t=int(ts[i]))
                )
        return _cube_rows_to_pdf(out)

    return tiles.groupBy("tx", "ty").applyInPandas(anom, CUBE_TILE_SCHEMA)


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
    ordinary raster plane (write_level / zonal / histogram compose).

    Reference parity: none (PyramidScheme.jl has no time axis) —
    north-rule cube-analytics surface.
    """
    if stat not in ("slope", "intercept", "nobs"):
        raise ValueError(
            f"stat must be slope|intercept|nobs, got {stat!r}"
        )
    spec = _level_spec(spark, path, z)
    ts = _t_domain(spark, path, z, t_domain)
    tiles = read_cube_level(spark, path, z)
    zz = int(z)

    def reduce_t(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _rows_to_pdf([])
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        stack = _decode_group(pdf, ts)
        obs = ~np.isnan(stack)
        tcol = ts.astype(np.float64)[:, None, None]
        n = obs.sum(axis=0).astype(np.float64)
        if stat == "nobs":
            val = np.where(n > 0, n, np.nan)
            if not np.isfinite(val).any():
                return _rows_to_pdf([])
            return _rows_to_pdf([_tile_row(spec, zz, tx, ty, val)])
        v0 = np.where(obs, stack, 0.0)
        st = (tcol * obs).sum(axis=0)
        stt = (tcol * tcol * obs).sum(axis=0)
        sv = v0.sum(axis=0)
        stv = (tcol * v0).sum(axis=0)
        den = n * stt - st * st  # > 0 iff n >= 2 (distinct t per frame)
        num = (n * stv - st * sv) if stat == "slope" else (stt * sv - st * stv)
        val = np.divide(
            num, den, out=np.full(den.shape, np.nan), where=den > 0
        )
        if not np.isfinite(val).any():
            return _rows_to_pdf([])
        return _rows_to_pdf([_tile_row(spec, zz, tx, ty, val)])

    return tiles.groupBy("tx", "ty").applyInPandas(reduce_t, TILE_SCHEMA)
