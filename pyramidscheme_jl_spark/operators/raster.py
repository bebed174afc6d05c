"""Vector -> raster: burn polygons into pyramid-layout tiles.

The reference builds pyramids over existing rasters; a production
raster<->vector engine also needs the opposite arrow (GDAL's
``rasterize``): polygons burned into a tiled raster that the rest of the
engine (zonal_raster, raster_extract, build levels, streaming patches)
consumes unchanged. Spark-first shape:

- driver-side planning is dims-sized and shared with the zonal
  operators: ``joins._covers_df`` gives each polygon's compact cover
  rows (polygon_id, paint ordinal, cover cell, is_full) and its rings;
- leaf expansion happens JVM-side: each cover cell becomes its Morton
  descendant interval at the TILE resolution, cut into 2^16-leaf chunks
  and exploded (``explode(sequence(lo, hi))``) — a continent-sized
  polygon fans out on executors, never on the driver;
- one hash aggregate groups the (cell, polygon...) pairs to a single row
  per output tile, so each tile renders ONCE with its full paint list;
- the Arrow render stage fills interior covers wholesale and ray-casts
  only boundary-cover pixel centers (``cells.pixel_center_mask``, the
  same mask the zonal refines use), in ascending paint order (LAST
  polygon wins, GDAL semantics); tiles with zero burned pixels are dropped
  (sparse-raster semantics — at 10^12-tile scale materializing empty
  tiles is the bug, not the feature).

Output rows use the engine's TILE_SCHEMA (bytes + stats + extents via
``build._tile_row``), so ``catalog.write_level`` + ``write_multiscales``
turn the result into an openable pyramid base.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import _RES_SHIFT, cell_to_xy, pixel_center_mask
from ..operators.build import PyramidSpec, _rows_to_pdf, _tile_row
from ..operators.joins import _MORTON_MASK, _bin_args, _covers_df, _value_counts
from ..plans.grid import tile_pixel_window
from ..sources.catalog import TILE_SCHEMA


def rasterize_polygons(
    spark: SparkSession,
    polygons: list[dict],
    base_shape: tuple[int, int],
    tilesize: int = 256,
    value_key: str = "value",
    fill: float = np.nan,
    dtype: str = "float64",
) -> DataFrame:
    """Burn ``polygons`` (dicts with ``polygon_id``, ``ring`` — any
    ``as_rings`` shape: single ring, ``[outer, hole, ...]``, or a
    multipolygon (r7) — and an optional ``value_key`` burn value, default
    1.0) into base-level tiles of a ``base_shape`` raster. Returns a
    TILE_SCHEMA DataFrame (z=0), one row per tile containing at least one
    burned pixel; unburned pixels hold ``fill`` (NaN by default, so tile
    stats are skipmissing-correct like every other tile in the engine).
    Hole pixels are NOT burned (even-odd), matching GDAL's rasterize
    semantics for interior rings.

    The covers come from ``joins._covers_df`` (the zonal operators' cover
    plan, with its duplicate-``polygon_id`` check) and a burned pixel is
    one whose center ``cells.pixel_center_mask`` puts inside the polygon,
    so ``zonal_raster`` over the burned level counts exactly the burned
    pixels. Runs no Spark job until the caller acts.
    """
    if np.isnan(fill) and not np.issubdtype(np.dtype(dtype), np.floating):
        raise ValueError(
            f"dtype {dtype!r} cannot represent the default NaN fill — pass an "
            "explicit integer fill (astype on NaN is undefined, not a nodata)"
        )
    spec = PyramidSpec(base_shape[0], base_shape[1], tilesize)
    res0 = spec.res0
    covers, rings, ress, _ = _covers_df(spark, polygons, res0, spec.world)
    if not ress:
        return spark.createDataFrame([], TILE_SCHEMA)
    ring_list = list(rings.values())  # by paint ordinal
    values = [float(p.get(value_key, 1.0)) for p in polygons]

    # each cover cell's Morton leaf interval at the tile resolution, in
    # chunks: explode(sequence(lo, hi)) builds the whole array in ONE task
    # row — Spark caps arrays near 2^31 and a 4^12-leaf array would blow
    # task memory long before that. 2^16 leaves/chunk keeps every sequence
    # tiny (a res-k full cover yields 4^(res0-k)/2^16 chunks).
    step = 1 << 16
    shift = f"2 * ({res0} - cover_res)"
    lo = F.expr(f"{res0 << _RES_SHIFT} | shiftleft(cover_cell & {_MORTON_MASK}, {shift})")
    hi = lo + F.expr(f"shiftleft(1L, {shift})") - 1
    per_tile = (
        covers.select(
            F.struct(F.col("poly_idx").alias("ord"), "is_full").alias("paint"),
            hi.alias("hi"),
            F.explode(F.sequence(lo, hi, F.lit(step).cast("long"))).alias("s"),
        )
        .select(
            "paint",
            F.explode(F.sequence("s", F.least(F.col("s") + (step - 1), "hi"))).alias("cell"),
        )
        .groupBy("cell")
        .agg(F.sort_array(F.collect_list("paint")).alias("paints"))
    )

    # the grouped rows are a few KB (cell + paint list) but each carries a
    # whole-tile render: AQE's byte-sized coalescing fuses them into ONE
    # task and serializes the CPU (measured: 8 and 32 cores identical at
    # ~21 s). Rows are independent, so spread them ROUND-ROBIN — measured
    # as the only repartition AQE respects here (repartition(n, col) was
    # still coalesced to 1; repartition(n) and repartitionByRange survive).
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    per_tile = per_tile.repartition(n_parts)
    bw, bh = base_shape

    def render(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                tx, ty, _ = cell_to_xy(np.int64(row.cell))
                tx, ty = int(tx), int(ty)
                x0, y0, w, h = tile_pixel_window((bw, bh), 0, tx, ty, tilesize)
                if w <= 0 or h <= 0:  # cover cell in the padded world margin
                    continue
                arr = np.full((h, w), np.nan, dtype=np.float64)
                burned = np.zeros((h, w), dtype=bool)
                for s in row.paints:  # ascending paint order: LAST wins
                    i = s["ord"]
                    if s["is_full"]:
                        mask = np.ones((h, w), dtype=bool)
                    else:  # a level-0 pixel is one world unit wide
                        mask = pixel_center_mask(x0, y0, x0 + w, y0 + h, w, h, ring_list[i])
                    arr[mask] = values[i]
                    burned |= mask
                if not burned.any():
                    continue
                if not np.isnan(fill):
                    arr[~burned] = fill
                out.append(_tile_row(spec, 0, tx, ty, arr.astype(dtype, copy=False)))
            yield _rows_to_pdf(out)  # empty-safe: astype on 0 rows is fine

    return per_tile.mapInPandas(render, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# neighborhood operators — the classic GIS raster family the
# block-aggregation pyramid does not cover: every output pixel is a
# function of a window that crosses tile boundaries. Focal stats,
# morphology, proximity, fillnodata, focal_apply (and the DEM kernels on
# it) and contours all run ONE halo stage (``_halo_stage``): one tile
# scan, one strip exchange (``_halo_gen``), one padded-plane assembly
# (``_assemble_pad``) per (t,) tx, ty group and one row emitter; each
# operator contributes only its per-tile kernel.


FOCAL_STATS = ("mean", "sum", "count", "min", "max")

#: ``cell`` travels as a STRING: strips carry null metadata, and a
#: nullable int64 column coerces to float64 in pandas — cell ids near
#: 2^57 then collapse to the same double (ulp 32), which breaks every
#: downstream cell equi-join (caught by the focal oracle row).
_HALO_SCHEMA = (
    "tx int, ty int, dx int, dy int, bytes binary, w int, h int, "
    "dtype string, cell string, xmin double, ymin double, xmax double, "
    "ymax double"
)
#: cube levels carry their time slice through the exchange — halos never
#: cross t (a slice's neighborhood is spatial)
_HALO_SCHEMA_T = "t int, " + _HALO_SCHEMA


def _halo_gen(radius: int, op: str, with_t: bool = False):
    """mapInPandas stage: each tile re-emits itself (dx=dy=0, metadata
    attached) plus the r-wide edge strips its 8 neighbors need, keyed to
    the NEIGHBOR. Strips are O(perimeter) bytes — the shuffle moves
    ~2r/tilesize of the pixel volume (0.8% at r=1, 256px), never whole
    tiles."""
    import pandas as pd

    from ..functions.codec import decode_tile, encode_tile

    def gen(batches):
        for pdf in batches:
            # nullable int64 through pandas coerces the WHOLE column to
            # float64 (nulls arrive as NaN, non-null ids near 2^57 lose
            # bits); Int64 keeps exact integers with nulls
            if "cell" in pdf.columns:
                pdf = pdf.assign(cell=pdf["cell"].astype("Int64"))
            cols = ("tx", "ty", "dx", "dy", "bytes", "w", "h", "dtype",
                    "cell", "xmin", "ymin", "xmax", "ymax")
            if with_t:
                cols = ("t",) + cols
            out = {k: [] for k in cols}

            def emit(tx, ty, dx, dy, arr, meta=None, t=None):
                if with_t:
                    out["t"].append(t)
                out["tx"].append(tx); out["ty"].append(ty)
                out["dx"].append(dx); out["dy"].append(dy)
                out["bytes"].append(encode_tile(arr))
                out["h"].append(arr.shape[0]); out["w"].append(arr.shape[1])
                out["dtype"].append(str(arr.dtype))
                for k in ("cell", "xmin", "ymin", "xmax", "ymax"):
                    out[k].append(meta[k] if meta else None)

            for row in pdf.itertuples():
                if int(row.c) != 1:
                    raise ValueError(
                        f"{op} supports single-channel rasters "
                        f"(tile ({row.tx},{row.ty}) has c={row.c})")
                r = radius
                # the driver checks the level's spec; this guards tiles
                # whose stored dims disagree with it
                if r > min(int(row.h), int(row.w)):
                    raise ValueError(
                        f"radius {r} exceeds tile dims "
                        f"({row.w}x{row.h}): halos only reach adjacent "
                        "tiles")
                a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
                meta = {k: getattr(row, k) for k in
                        ("cell", "xmin", "ymin", "xmax", "ymax")}
                meta["cell"] = None if pd.isna(meta["cell"]) else str(meta["cell"])
                t = int(row.t) if with_t else None
                emit(row.tx, row.ty, 0, 0, a, meta, t=t)
                for ex in (-1, 0, 1):
                    for ey in (-1, 0, 1):
                        if ex == 0 and ey == 0:
                            continue
                        piece = a
                        if ex:
                            piece = piece[:, -r:] if ex == 1 else piece[:, :r]
                        if ey:
                            piece = piece[-r:, :] if ey == 1 else piece[:r, :]
                        emit(int(row.tx) + ex, int(row.ty) + ey, -ex, -ey,
                             piece, t=t)
            yield pd.DataFrame(out)

    return gen


def _assemble_pad(c, strips, r: int):
    """Decode the center tile and surround it with the received strips.
    Returns ``(a, pad, present)``: ``pad`` is the raw (h+2r, w+2r) value
    plane (int64 for integer rasters, float64 otherwise, NaN where no
    tile delivered a pixel) and ``present`` marks every delivered pixel,
    NaN pixels included. The two pad conventions both derive from it:
    focal kernels take ``present & isfinite(pad)`` as their valid mask
    (NaN pixels are NODATA; absent neighbors stay invalid, so windows
    SHRINK at borders), ``focal_apply`` hands its kernel the NaN-padded
    float64 plane with ``present`` as the mask."""
    from ..functions.codec import decode_tile

    h, w = int(c["h"]), int(c["w"])
    a = decode_tile(c["bytes"], h, w, c["dtype"])
    shape = (h + 2 * r, w + 2 * r)
    if a.dtype.kind in "ui":
        pad = np.zeros(shape, dtype=np.int64)
    else:
        pad = np.full(shape, np.nan, dtype=np.float64)
    present = np.zeros(shape, dtype=bool)
    pad[r:r + h, r:r + w] = a
    present[r:r + h, r:r + w] = True
    for row in strips.itertuples():
        p = decode_tile(row.bytes, row.h, row.w, row.dtype)
        x0 = 0 if row.dx == -1 else (r if row.dx == 0 else r + w)
        y0 = 0 if row.dy == -1 else (r if row.dy == 0 else r + h)
        ph, pw = p.shape
        pad[y0:y0 + ph, x0:x0 + pw] = p
        present[y0:y0 + ph, x0:x0 + pw] = True
    return a, pad, present


def _halo_stage(spark, path: str, z: int, radius: int, op: str, kernel, *,
                cube: bool = False, schema=None, radius_arg: str = "radius"):
    """The one plan behind every neighborhood operator: one scan of level
    ``z`` -> ``_halo_gen`` (each tile plus the r-wide strips its 8
    neighbors need) -> groupBy([t,] tx, ty) applyInPandas, which picks
    the center, assembles its padded plane once and calls
    ``kernel(c, a, pad, present)`` (center row, decoded center tile and
    the ``_assemble_pad`` planes).

    The kernel returns ``None`` for no output. For tile output (the
    default ``schema``: TILE_SCHEMA, or CUBE_TILE_SCHEMA with ``cube``)
    it returns ``(out, vals)``, the (h, w) result and the values its
    vmin/vmax/vmean are taken over; the row's metadata comes from the
    center tile. With a custom ``schema`` it returns the output frame.

    The radius bound is checked here, on the driver: halos reach adjacent
    tiles only, so ``radius`` may not exceed the level's smallest tile
    dimension (its ragged last tile included), read from the
    ``_multiscales.json`` document. A pyramid without one is checked per
    tile by ``_halo_gen``."""
    from ..functions.codec import encode_tile
    from ..sources.catalog import read_level, read_multiscales

    if radius < 1:
        raise ValueError(f"{radius_arg} must be >= 1, got {radius}")
    if cube:
        from ..operators.cube import CUBE_TILE_SCHEMA, read_cube_level

        tiles = read_cube_level(spark, path, z)
        if "t" not in tiles.columns:
            raise ValueError(f"{op} expects an (x, y, t) cube level")
    else:
        tiles = read_level(spark, path, z)
        if "t" in tiles.columns:
            raise ValueError(f"{op} expects a flat (x, y) level, not a cube")
    ms = read_multiscales(path) or {}
    if all(k in ms for k in ("base_w", "base_h", "tilesize")):
        ts = int(ms["tilesize"])
        # level size is ((base - 1) >> z) + 1; its last tile keeps the rest
        least = min(((int(ms[k]) - 1) >> z) % ts + 1 for k in ("base_w", "base_h"))
        if radius > least:
            raise ValueError(
                f"{op}: {radius_arg} {radius} exceeds the smallest tile "
                f"dimension ({least} px) of level {z}; halos only reach "
                "adjacent tiles (run against an overview level)")
    tile_out = schema is None
    if tile_out:
        schema = CUBE_TILE_SCHEMA if cube else TILE_SCHEMA

    def fn(key, pdf):
        is_ctr = (pdf["dx"] == 0) & (pdf["dy"] == 0)
        if not is_ctr.any():
            return pd.DataFrame()
        c = pdf[is_ctr].iloc[0]
        a, pad, present = _assemble_pad(c, pdf[~is_ctr], radius)
        res = kernel(c, a, pad, present)
        if res is None:
            return pd.DataFrame()
        if not tile_out:
            return res
        out, vals = res
        out = np.ascontiguousarray(out)
        return pd.DataFrame([{
            **({"t": int(c["t"])} if cube else {}),
            "z": z, "tx": int(c["tx"]), "ty": int(c["ty"]),
            "bytes": encode_tile(out), "w": int(c["w"]), "h": int(c["h"]),
            "c": 1, "dtype": str(out.dtype),
            "vmin": float(vals.min()) if vals.size else float("nan"),
            "vmax": float(vals.max()) if vals.size else float("nan"),
            "vmean": float(vals.mean()) if vals.size else float("nan"),
            "cell": None if c["cell"] is None else int(c["cell"]),
            "xmin": float(c["xmin"]), "ymin": float(c["ymin"]),
            "xmax": float(c["xmax"]), "ymax": float(c["ymax"]),
        }])

    halo = tiles.mapInPandas(
        _halo_gen(radius, op, with_t=cube), _HALO_SCHEMA_T if cube else _HALO_SCHEMA
    )
    keys = ("t", "tx", "ty") if cube else ("tx", "ty")
    return halo.groupBy(*keys).applyInPandas(fn, schema)


def _focal_kernel(stat: str, radius: int):
    """Halo kernel for the separable (2r+1)-window ``stat`` over valid
    pixels (windows SHRINK at raster borders, counts reflect valid pixels
    only), with explicit left-to-right folds — the exact operation order
    the DuckDB window-SUM twin uses, so float results reproduce
    bit-for-bit and integer results are exact."""
    k = 2 * radius + 1

    def fold(m, op):
        # along rows, then along columns; (((p0 op p1) op p2) ...)
        acc = m[:, 0:m.shape[1] - k + 1]
        for i in range(1, k):
            acc = op(acc, m[:, i:m.shape[1] - k + 1 + i])
        out = acc[0:acc.shape[0] - k + 1, :]
        for i in range(1, k):
            out = op(out, acc[i:acc.shape[0] - k + 1 + i, :])
        return out

    def kern(c, a, pad, present):
        valid = present & np.isfinite(pad)
        is_int = a.dtype.kind in "ui"
        if stat in ("mean", "sum", "count"):
            s = fold(np.where(valid, pad, 0), np.add)
            n = fold(valid.astype(np.int64), np.add)
            if stat == "sum":
                # all-nodata windows -> NaN on float rasters (the engine's
                # NaN-as-nodata convention and SQL window-SUM-over-empty-
                # frame NULL); int rasters have no nodata, keep int64 s
                res = s if is_int else np.where(n > 0, s, np.nan)
            elif stat == "count":
                res = n
            else:
                with np.errstate(invalid="ignore", divide="ignore"):
                    # one IEEE division; all-nodata windows -> NaN
                    res = s.astype(np.float64) / n
        else:
            # ints stay int64 end-to-end (a float64 round-trip corrupts
            # values past 2^53 — the same width class zonal routes
            # around); sentinels replace +-inf
            op = np.minimum if stat == "min" else np.maximum
            if is_int:
                i64 = np.iinfo(np.int64)
                sent = i64.max if stat == "min" else i64.min
                # int rasters have no nodata encoding, so every window
                # holds its (always finite) center pixel
                res = fold(np.where(valid, pad, sent), op).astype(a.dtype)
            else:
                m = fold(np.where(valid, pad, np.inf if stat == "min" else -np.inf), op)
                # all-nodata windows (possible when NaN nodata exists): NaN
                res = np.where(fold(valid.astype(np.uint8), np.maximum) > 0, m, np.nan)
        return res, res[np.isfinite(res)]

    return kern


def focal_stats(
    spark,
    path: str,
    z: int = 0,
    stat: str = "mean",
    radius: int = 1,
):
    """Focal (neighborhood) statistics over a built pyramid level: every
    output pixel is the ``stat`` of its (2r+1)x(2r+1) window, windows
    SHRINKING at raster borders (counts reflect valid pixels only) —
    the GDAL/ArcGIS focal-stats contract. Returns TILE_SCHEMA rows (a
    derived raster level): compose with ``write_level`` +
    ``raster_extract``/``zonal_raster`` downstream.

    Plan: one tile scan -> mapInPandas emits each tile plus the r-wide
    edge strips its 8 neighbors need (the halo exchange: the shuffle
    carries ~2r/tilesize of the pixel volume — 0.8% at r=1/256px — never
    whole tiles) -> groupBy(tx, ty) applyInPandas pads the center with
    its halos and computes the separable window stat. Sum/count stay
    exact int64 for integer rasters; ``mean`` is one IEEE division of
    those, which is why the DuckDB oracle reproduces it bit-for-bit
    (engine-portable without any quantization).
    """
    if stat not in FOCAL_STATS:
        raise ValueError(f"stat must be one of {FOCAL_STATS}, got {stat!r}")
    return _halo_stage(
        spark, path, z, radius, "focal_stats", _focal_kernel(stat, radius)
    )


_MORPH_OPS = {
    "erode": ("min",),
    "dilate": ("max",),
    "open": ("min", "max"),
    "close": ("max", "min"),
}


def morphology(
    spark,
    path: str,
    op: str = "erode",
    radius: int = 1,
    z: int = 0,
    workdir: str | None = None,
) -> DataFrame:
    """Grayscale morphology with a square (2r+1)^2 structuring element
    over a stored pyramid level — erosion (window min), dilation (window
    max), opening (erode∘dilate) and closing (dilate∘erode): the
    classical image-cleanup pass (despeckle before ``region_label``, gap
    bridging before ``rasterize`` overlays). On a 0/1 mask these are
    exactly binary morphology.

    Each pass IS ``focal_stats`` (same halo-exchange shuffle, separable
    min/max, shrinking windows at raster borders — equivalently:
    reflect-free edge handling where out-of-raster is +inf for erosion
    and -inf for dilation, the scipy ``grey_erosion(mode='constant')``
    convention). Two-pass ops materialize the intermediate as a stored
    single-level pyramid under ``workdir`` (required for open/close;
    eager write, the ``region_label`` precedent) because the second halo
    exchange needs the FIRST pass's values across tile seams — at 100 TB
    that intermediate is exactly the thing you want checkpointed anyway.

    Returns TILE_SCHEMA rows; dtype follows ``focal_stats`` (int in, int
    out for min/max). Reference parity: none (PyramidScheme.jl has no
    focal ops) — north-rule image-axis surface.
    """
    from ..api import PyramidDataset
    from ..sources.catalog import write_level, write_multiscales

    if op not in _MORPH_OPS:
        raise ValueError(f"op must be one of {sorted(_MORPH_OPS)}, got {op!r}")
    seq = _MORPH_OPS[op]
    if len(seq) == 1:
        return focal_stats(spark, path, z=z, stat=seq[0], radius=radius)
    if workdir is None:
        raise ValueError(
            f"morphology op={op!r} is two-pass and needs `workdir` for the "
            "intermediate level"
        )
    spec = PyramidDataset.open(spark, path).spec
    w_z = ((spec.base_w - 1) >> z) + 1
    h_z = ((spec.base_h - 1) >> z) + 1
    inter = focal_stats(spark, path, z=z, stat=seq[0], radius=radius)
    write_level(inter, workdir, 0)
    write_multiscales(
        workdir, 0, spec.tilesize, w_z, h_z, f"morph-{seq[0]}", "-"
    )
    return focal_stats(spark, workdir, z=0, stat=seq[1], radius=radius)


def raster_proximity(
    spark,
    path: str,
    target_value: float,
    max_radius: int,
    z: int = 0,
):
    """Proximity raster (GDAL ``gdal_proximity`` analog): for every pixel
    position, the EXACT SQUARED Euclidean distance (int64 — exact, hence
    engine-portable; take sqrt downstream if meters are wanted) to the
    nearest pixel whose value equals ``target_value``, searched within
    ``max_radius``; positions with no target in reach hold ``-1``.
    Distance is positional: a target at the pixel itself gives 0, and
    source NaN/nodata at NON-target positions does not matter (GDAL
    semantics — proximity is about where targets are, not what the other
    pixels hold).

    Plan: the shared halo stage (``_halo_stage``: strips of width
    ``max_radius``, ~2r/tilesize of the pixel volume) with an exact
    SEPARABLE two-stage EDT as its per-tile kernel: stage 1 takes, per
    padded column, the min ``dy^2`` to a target within +-r rows (2r+1
    vectorized row shifts); stage 2 takes ``min_dx (dx^2 + stage1[y,
    x+dx])`` (2r+1 column shifts) — the exact brute minimum in O(r)
    vector passes, never O(r^2). Correctness bound: any target with
    Euclidean distance <= r is within Chebyshev r, i.e. inside the halo.
    ``max_radius`` must not exceed the level's smallest tile dimension
    (halos reach adjacent tiles only; checked at call time); for coarser
    reaches run against an overview level, where radius shrinks by 2^z.
    Tiles with no reachable target anywhere are dropped (sparse
    semantics); vmin/vmax/vmean are taken over reached pixels.
    """
    target, r = float(target_value), max_radius

    def kern(c, a, pad, present):
        h, w = a.shape
        tm = present & np.isfinite(pad) & (pad == target)
        # stage 1: per padded column, min dy^2 to a target within +-r rows
        d1 = np.full((h, w + 2 * r), _EDT_INF, dtype=np.int64)
        for dy in range(-r, r + 1):
            np.minimum(
                d1, np.where(tm[r + dy:r + dy + h, :], dy * dy, _EDT_INF), out=d1
            )
        # stage 2: min over dx of dx^2 + stage1 shifted
        best = np.full((h, w), _EDT_INF, dtype=np.int64)
        for dx in range(-r, r + 1):
            np.minimum(best, dx * dx + d1[:, r + dx:r + dx + w], out=best)
        out = np.where(best <= r * r, best, -1)
        reached = out[out >= 0]
        return (out, reached) if reached.size else None

    return _halo_stage(spark, path, z, max_radius, "raster_proximity", kern,
                       radius_arg="max_radius")


def fillnodata(
    spark,
    path: str,
    nodata: float,
    max_radius: int,
    z: int = 0,
):
    """Nodata interpolation (GDAL ``gdal_fillnodata`` analog, nearest-
    valid mode): every pixel equal to ``nodata`` takes the VALUE of its
    nearest valid pixel within ``max_radius`` (exact squared-Euclidean
    metric); out-of-reach pixels keep ``nodata``; valid pixels pass
    through untouched. NaN pixels are fill TARGETS too (the engine's
    NaN-is-missing convention: a "valid" pixel is finite AND !=
    ``nodata``), and NaN pixels are never fill SOURCES — pinned by
    ``test_fillnodata_nan_pixels_are_targets`` (ADVICE r8).
    Ties (two valid pixels at the same distance)
    break to the SMALLER value — a total, engine-portable order, which
    is what makes this oracle-exact where GDAL's inverse-distance
    smoothing variant could never be (IDW needs a float divide per
    neighbor; run ``focal_stats(mean)`` after this fill if smoothing is
    wanted — the documented GDAL recipe is exactly that pair).

    Plan: the shared halo stage (``_halo_stage``, r-wide strips, ~2r/
    tilesize of pixel volume) with ``_lex_edt`` as its per-tile kernel:
    the separable two-stage exact EDT of ``raster_proximity``, here
    carrying ``(d^2, value)`` TUPLES through both min passes. The
    lexicographic tuple-min composes across the stages: within one
    column two seeds only tie in final distance when their ``dy^2``
    ties (same ``dx^2``), and stage 1 already broke that tie by value;
    across columns stage 2 compares full tuples. So two O(r) shift
    passes reproduce the global argmin, never O(r^2) scans. Same
    call-time ``max_radius`` bound as proximity (the level's smallest
    tile dimension); run against an overview level for coarser reaches.

    Returns TILE_SCHEMA rows (the filled raster level, dtype preserved).
    Reference parity: none — north-rule raster-repair surface (the
    ingest-side companion of ``cube_time.gap_fill``'s temporal LOCF).
    """
    nodata, r = float(nodata), max_radius

    def kern(c, a, pad, present):
        h, w = a.shape
        bd, bv = _lex_edt(present & np.isfinite(pad) & (pad != nodata), pad, h, w, r)
        keep = np.isfinite(a) & (a != nodata)
        out = np.where(keep, a, np.where(bd <= r * r, bv.astype(a.dtype), a))
        out = out.astype(a.dtype, copy=False)
        return out, out[np.isfinite(out)]

    return _halo_stage(spark, path, z, max_radius, "fillnodata", kern,
                       radius_arg="max_radius")


_EDT_INF = 1 << 60


def _lex_edt(vm, pad, h: int, w: int, r: int):
    """Separable exact EDT carrying (d^2, value) lexicographic tuples.

    ``vm``: boolean seed mask over the padded plane; ``pad``: the value
    plane (same shape). Stage 1 per padded column takes the
    lexicographic (dy^2, value) min to a seed within +-r rows; stage 2
    the min over dx of (dx^2 + stage1, value). The tuple-min composes
    across stages (two seeds only tie in final distance at equal dx^2
    AND equal dy^2, and stage 1 already broke the dy^2 tie by value),
    so two O(r) shift passes reproduce the global argmin. Returns
    ``(bd, bv)``: int64 squared distances (_EDT_INF = unreached) and
    the argmin values, both (h, w)."""
    d1 = np.full((h, w + 2 * r), _EDT_INF, dtype=np.int64)
    v1 = np.zeros((h, w + 2 * r), dtype=pad.dtype)
    for dy in range(-r, r + 1):
        ok = vm[r + dy:r + dy + h, :]
        cd = np.where(ok, dy * dy, _EDT_INF)
        cv = pad[r + dy:r + dy + h, :]
        upd = (cd < d1) | (ok & (cd == d1) & (cv < v1))
        d1[upd] = cd[upd]
        v1[upd] = cv[upd]
    bd = np.full((h, w), _EDT_INF, dtype=np.int64)
    bv = np.zeros((h, w), dtype=pad.dtype)
    for dx in range(-r, r + 1):
        s = d1[:, r + dx:r + dx + w]
        ok = s < _EDT_INF
        cd = np.where(ok, dx * dx + s, _EDT_INF)
        cv = v1[:, r + dx:r + dx + w]
        upd = (cd < bd) | (ok & (cd == bd) & (cv < bv))
        bd[upd] = cd[upd]
        bv[upd] = cv[upd]
    return bd, bv


def focal_stats_cube(
    spark,
    path: str,
    z: int = 0,
    stat: str = "mean",
    radius: int = 1,
):
    """``focal_stats`` over an (x, y, t) cube level: the neighborhood is
    SPATIAL — halos never cross time slices — so ``t`` simply rides the
    exchange keys (the J9/zonal_cube pattern: extra key columns, never
    extra scans). One scan of the cube level, strips keyed (t, ntx,
    nty), assembly per (t, tx, ty); returns CUBE_TILE_SCHEMA rows."""
    if stat not in FOCAL_STATS:
        raise ValueError(f"stat must be one of {FOCAL_STATS}, got {stat!r}")
    return _halo_stage(spark, path, z, radius, "focal_stats_cube",
                       _focal_kernel(stat, radius), cube=True)


def focal_apply(
    spark,
    path: str,
    kernel_fn,
    z: int = 0,
    radius: int = 1,
    out_dtype: str = "float64",
):
    """Custom neighborhood operator over a pyramid level: the §2.11
    any-callable contract for FOCAL computations. ``kernel_fn(padded,
    valid, radius)`` receives the (h+2r, w+2r) float64 window pad (NaN
    where no data exists — raster border or missing tile) plus the
    validity mask (True wherever a tile delivered a pixel, NaN pixels
    included), and returns the (h, w) result array; the kernel must be a
    pure per-tile numpy function.

    Plan: the shared halo stage (``_halo_stage``: strips-only shuffle,
    one padded plane per tile — the one ``focal_stats`` uses), with
    ``kernel_fn`` as the per-tile kernel; vmin/vmax/vmean are taken over
    the result's finite pixels.

    ``slope_degrees`` / ``hillshade`` below are the canonical DEM
    kernels (Horn's method); both are pytest-pinned against full-mosaic
    replays. Trig results are deliberately NOT oracle-gated (libm ulps
    are not engine-portable — the focal_stats mean row is the
    bit-exact representative of this plan)."""
    dt = np.dtype(out_dtype)

    def kern(c, a, pad, present):
        res = np.asarray(kernel_fn(np.where(present, pad, np.nan), present, radius), dtype=dt)
        if res.shape != a.shape:
            raise ValueError(
                f"kernel returned shape {res.shape}, expected {a.shape}")
        return res, res[np.isfinite(res)]

    return _halo_stage(spark, path, z, radius, "focal_apply", kern)


def _horn_gradients(pad, cellsize: float):
    """Horn's method gradients on a 1-padded window; border pixels use
    edge replication (the GDAL -compute_edges convention)."""
    p = _edge_replicate(pad)
    a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
    d, f = p[1:-1, :-2], p[1:-1, 2:]
    g, h2, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * cellsize)
    dzdy = ((g + 2 * h2 + i) - (a + 2 * b + c)) / (8.0 * cellsize)
    return dzdx, dzdy


def slope_degrees(spark, path: str, z: int = 0, cellsize: float = 1.0):
    """DEM slope in degrees (Horn's method, GDAL ``gdaldem slope``
    analog) as a ``focal_apply`` kernel."""
    import numpy as np

    def kern(pad, valid, r):
        dzdx, dzdy = _horn_gradients(pad, cellsize)
        return np.degrees(np.arctan(np.sqrt(dzdx ** 2 + dzdy ** 2)))

    return focal_apply(spark, path, kern, z=z, radius=1)


def aspect_degrees(spark, path: str, z: int = 0, cellsize: float = 1.0):
    """DEM aspect in compass degrees (GDAL ``gdaldem aspect`` analog,
    r8 — completes the Horn terrain family with ``slope_degrees`` and
    ``hillshade``): downslope direction clockwise from north, 0=N 90=E
    180=S 270=W; FLAT cells (both gradients zero) return -1 (the ArcGIS
    flat sentinel; GDAL emits nodata there)."""
    import numpy as np

    def kern(pad, valid, r):
        dzdx, dzdy = _horn_gradients(pad, cellsize)
        # atan2 measured from east CCW -> compass CW from north
        az = np.degrees(np.arctan2(dzdy, -dzdx))
        out = np.where(az > 90.0, 450.0 - az, 90.0 - az)
        out = np.where(out == 360.0, 0.0, out)
        return np.where((dzdx == 0) & (dzdy == 0), -1.0, out)

    return focal_apply(spark, path, kern, z=z, radius=1)


def hillshade(
    spark,
    path: str,
    z: int = 0,
    cellsize: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
):
    """DEM hillshade 0-255 (GDAL ``gdaldem hillshade`` analog):
    illumination of the Horn-gradient surface normal by a sun at
    (azimuth, altitude)."""
    import math

    import numpy as np

    def kern(pad, valid, r):
        dzdx, dzdy = _horn_gradients(pad, cellsize)
        zen = math.radians(90.0 - altitude_deg)
        az = math.radians(360.0 - azimuth_deg + 90.0)
        slope = np.arctan(np.sqrt(dzdx ** 2 + dzdy ** 2))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = (np.cos(zen) * np.cos(slope)
                 + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
        return np.clip(shade * 255.0, 0, 255)

    return focal_apply(spark, path, kern, z=z, radius=1)


def _edge_replicate(pad):
    """Fill the NaN halo ring by edge replication (two passes settle the
    corners) — the GDAL ``-compute_edges`` convention shared by the Horn
    kernels. Interior NaNs (missing tiles / nodata) are preserved."""
    import numpy as np

    p = pad.copy()
    for _ in range(2):
        for sl_to, sl_from in (
            (np.s_[0, :], np.s_[1, :]), (np.s_[-1, :], np.s_[-2, :]),
            (np.s_[:, 0], np.s_[:, 1]), (np.s_[:, -1], np.s_[:, -2]),
        ):
            row = p[sl_to]
            src = p[sl_from]
            fill = np.isnan(row) & ~np.isnan(src)
            row[fill] = src[fill]
            p[sl_to] = row
    return p


def _shifts3x3(p):
    """The nine 3x3-window slices of a 1-padded plane, center last."""
    h, w = p.shape[0] - 2, p.shape[1] - 2
    out = [p[dy:dy + h, dx:dx + w]
           for dy in (0, 1, 2) for dx in (0, 1, 2) if not (dy == 1 and dx == 1)]
    out.append(p[1:-1, 1:-1])
    return out


def tpi(spark, path: str, z: int = 0):
    """Topographic Position Index (GDAL ``gdaldem TPI``): center minus
    the mean of its 8 neighbors, edge-replicated borders (the
    ``-compute_edges`` convention the Horn family uses). Positive =
    ridge, negative = valley. Arithmetic only — no trig — but border
    replication duplicates neighbors, so the pinned contract is the
    pytest full-mosaic replay (the roughness row is this plan's
    oracle-gated representative)."""
    import numpy as np

    def kern(pad, valid, r):
        p = _edge_replicate(pad)
        *nb, ctr = _shifts3x3(p)
        s = nb[0].copy()
        for q in nb[1:]:
            s = s + q
        return ctr - s / 8.0

    return focal_apply(spark, path, kern, z=z, radius=1)


def tri(spark, path: str, z: int = 0, alg: str = "riley"):
    """Terrain Ruggedness Index (GDAL ``gdaldem TRI``): per pixel over
    the 8 neighbors, ``alg="riley"`` (GDAL >= 3.3 default) is
    ``sqrt(sum (center - nb)^2)``; ``alg="wilson"`` is
    ``mean |center - nb|``. Edge-replicated borders."""
    import numpy as np

    if alg not in ("riley", "wilson"):
        raise ValueError(f"alg must be riley|wilson, got {alg!r}")

    def kern(pad, valid, r):
        p = _edge_replicate(pad)
        *nb, ctr = _shifts3x3(p)
        if alg == "riley":
            s = (ctr - nb[0]) ** 2
            for q in nb[1:]:
                s = s + (ctr - q) ** 2
            return np.sqrt(s)
        s = np.abs(ctr - nb[0])
        for q in nb[1:]:
            s = s + np.abs(ctr - q)
        return s / 8.0

    return focal_apply(spark, path, kern, z=z, radius=1)


def roughness(spark, path: str, z: int = 0):
    """Roughness (GDAL ``gdaldem roughness``): 3x3 window max minus min,
    center included. With edge replication this equals the shrinking-
    window ``focal max - focal min`` exactly (replicated values duplicate
    in-window values, never change extremes), so the DuckDB oracle is
    two chained 1-D window MAX passes minus two MIN passes — integer-
    exact on integer rasters."""
    import numpy as np

    def kern(pad, valid, r):
        p = _edge_replicate(pad)
        parts = _shifts3x3(p)
        mx = parts[0].copy()
        mn = parts[0].copy()
        for q in parts[1:]:
            mx = np.maximum(mx, q)  # NaN (interior nodata) propagates
            mn = np.minimum(mn, q)
        return mx - mn

    return focal_apply(spark, path, kern, z=z, radius=1)


#: one row per contour SEGMENT: the owning 2x2 cell (global top-left
#: corner pixel position), the within-cell segment ordinal ``k`` (0, or
#: 1 for the second saddle segment — what makes (level, cx, cy, k) a
#: unique segment key), plus the linearly interpolated endpoints.
_CONTOUR_SCHEMA = (
    "level double, cx bigint, cy bigint, k int, "
    "x0 double, y0 double, x1 double, y1 double"
)

#: marching-squares segment count per 4-bit corner code
#: (tl<<3 | tr<<2 | br<<1 | bl): 0/15 empty, 5/10 saddles (2 segments)
_MS_SEG_COUNT = (0, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0)


def contour_segments(spark, path: str, levels, z: int = 0):
    """Contour extraction (GDAL ``gdal_contour`` analog): marching
    squares over the pixel-center lattice — every 2x2 pixel cell whose
    corners straddle a contour ``level`` emits one line segment (two for
    saddle cells), endpoints linearly interpolated along the crossed
    cell edges. "Above" is ``value >= level``; saddle cells pair their
    four crossings by the center-mean rule (the GDAL/skimage
    disambiguation). Returns one row per segment: ``(level, cx, cy, x0,
    y0, x1, y1)`` with ``(cx, cy)`` the GLOBAL top-left corner pixel of
    the owning cell — stitch downstream per level if closed polylines
    are wanted (segment endpoints on shared cell edges are bit-identical
    because both cells interpolate the same two corner values).

    Plan: the shared halo stage (``_halo_stage``) at radius 1 (strips
    only — a cell on a tile seam needs just the E/S/SE corner pixels),
    with a per-tile kernel classifying all cells for all ``levels``
    vectorized. Each
    cell is owned by exactly ONE tile (its top-left corner's tile), so
    no dedup shuffle; cells missing a corner (raster border, absent
    tile) emit nothing. Scale: the shuffle is O(perimeter), the emit is
    O(contour length) — both linear in pixel volume worst-case.

    Exactness contract: segment COUNTS, owning-cell positions and
    crossing-edge structure are pure integer comparisons (oracle-exact
    in DuckDB); interpolated endpoints are one IEEE divide per crossing.
    Reference parity: none (PyramidScheme.jl has no vectorization ops) —
    north-rule raster→vector surface, the inverse of ``rasterize``.
    """
    from ..api import PyramidDataset

    lvls = tuple(float(v) for v in levels)
    if not lvls:
        raise ValueError("levels must be non-empty")
    if len(set(lvls)) != len(lvls):
        raise ValueError(
            f"levels has duplicates: {lvls} — each level would emit its "
            "segments twice (and collide polyline segment keys)"
        )
    ts = PyramidDataset.open(spark, path).spec.tilesize
    return _halo_stage(spark, path, z, 1, "contour_segments",
                       _contour_kernel(lvls, int(ts)), schema=_CONTOUR_SCHEMA)


def _contour_kernel(levels: tuple, ts: int):
    """Radius-1 halo kernel of ``contour_segments``: the tile's segment
    rows, or None when it has none."""
    def kern(c, a, pad, present):
        h, w = a.shape
        gx0, gy0 = int(c["tx"]) * ts, int(c["ty"]) * ts
        pad = pad.astype(np.float64, copy=False)
        valid = present & np.isfinite(pad)
        # corner grid: local corner (i, j) = global pixel (gy0+i, gx0+j);
        # this tile owns cells with top-left corner inside it (i<h, j<w),
        # so cell ownership is a partition of the lattice — no dedup
        cg = pad[1:h + 2, 1:w + 2]
        cv = valid[1:h + 2, 1:w + 2]
        exists = (cv[:-1, :-1] & cv[:-1, 1:] & cv[1:, :-1] & cv[1:, 1:])
        seg_lut = np.asarray(_MS_SEG_COUNT)
        out = []
        for L in levels:
            b = cg >= L
            code = ((b[:-1, :-1].astype(np.int8) << 3)
                    | (b[:-1, 1:].astype(np.int8) << 2)
                    | (b[1:, 1:].astype(np.int8) << 1)
                    | b[1:, :-1].astype(np.int8))
            nseg = np.where(exists, seg_lut[code], 0)
            ys, xs = np.nonzero(nseg)
            if ys.size == 0:
                continue
            tl, tr = cg[ys, xs], cg[ys, xs + 1]
            bl, br = cg[ys + 1, xs], cg[ys + 1, xs + 1]
            fx = (gx0 + xs).astype(np.float64)
            fy = (gy0 + ys).astype(np.float64)
            # crossing points per cell edge, canonical order
            # [top, right, bottom, left]; NaN where not crossed
            n = ys.size
            pts = np.full((n, 4, 2), np.nan)
            with np.errstate(divide="ignore", invalid="ignore"):
                m = (tl >= L) != (tr >= L)
                pts[m, 0, 0] = fx[m] + ((L - tl) / (tr - tl))[m]
                pts[m, 0, 1] = fy[m]
                m = (tr >= L) != (br >= L)
                pts[m, 1, 0] = fx[m] + 1.0
                pts[m, 1, 1] = fy[m] + ((L - tr) / (br - tr))[m]
                m = (bl >= L) != (br >= L)
                pts[m, 2, 0] = fx[m] + ((L - bl) / (br - bl))[m]
                pts[m, 2, 1] = fy[m] + 1.0
                m = (tl >= L) != (bl >= L)
                pts[m, 3, 0] = fx[m]
                pts[m, 3, 1] = fy[m] + ((L - tl) / (bl - tl))[m]
            crossed = ~np.isnan(pts[:, :, 0])
            one = nseg[ys, xs] == 1
            # single-segment cells: join their (exactly two) crossed edges
            e1 = np.argmax(crossed, axis=1)
            e2 = 3 - np.argmax(crossed[:, ::-1], axis=1)
            p0 = pts[np.arange(n), e1]
            p1 = pts[np.arange(n), e2]
            recs = [(L, 0, gx0 + xs[one], gy0 + ys[one],
                     p0[one, 0], p0[one, 1], p1[one, 0], p1[one, 1])]
            # saddles (all four edges crossed): center-mean rule — when
            # the cell center is "above", the above-diagonal corners own
            # the center, so crossings pair around the BELOW corners
            sad = ~one
            if sad.any():
                si = np.nonzero(sad)[0]
                ctr_above = (tl[si] + tr[si] + bl[si] + br[si]) / 4.0 >= L
                tl_above = tl[si] >= L
                # center sides with tl's diagonal -> that diagonal is
                # connected through the center, so the contour wraps the
                # OTHER two corners: (top,right) + (bottom,left); else
                # tl/br are isolated: (top,left) + (bottom,right)
                with_tl = ctr_above == tl_above
                a0 = pts[si, 0]
                a1 = np.where(with_tl[:, None], pts[si, 1], pts[si, 3])
                b0 = pts[si, 2]
                b1 = np.where(with_tl[:, None], pts[si, 3], pts[si, 1])
                recs.append((L, 0, gx0 + xs[si], gy0 + ys[si],
                             a0[:, 0], a0[:, 1], a1[:, 0], a1[:, 1]))
                recs.append((L, 1, gx0 + xs[si], gy0 + ys[si],
                             b0[:, 0], b0[:, 1], b1[:, 0], b1[:, 1]))
            for L_, k_, rcx, rcy, x0, y0, x1, y1 in recs:
                if rcx.size:
                    out.append(pd.DataFrame({
                        "level": L_, "cx": rcx.astype(np.int64),
                        "cy": rcy.astype(np.int64),
                        "k": np.full(rcx.size, k_, dtype=np.int32),
                        "x0": x0, "y0": y0, "x1": x1, "y1": y1}))
        return pd.concat(out, ignore_index=True) if out else None

    return kern


def color_relief(
    spark,
    path: str,
    ramp,
    z: int = 0,
    nearest: bool = False,
):
    """Color relief (GDAL ``gdaldem color-relief`` analog, completing
    the gdaldem family): map a single-band level through a color ramp
    to a 3-channel uint8 raster (symbology/export-ready; feeds
    ``export_xyz`` unchanged since TILE_SCHEMA carries ``c``).

    ``ramp``: iterable of ``(value, (r, g, b))`` breakpoints (any
    order; sorted by value; duplicate values raise). Default is linear
    interpolation between bracketing breakpoints with each channel
    computed as ``c0 + ((v - b0) * (c1 - c0)) / (b1 - b0)`` then
    rounded half-up — integer products, ONE exactly-rounded divide,
    one add, so the uint8 output is bit-portable for integer-valued
    rasters (the engine's oracle discipline). Values outside the ramp
    clamp to the end colors (GDAL clamping); ``nearest=True`` snaps to
    the closest breakpoint (ties to the LOWER value — a total order).
    NaN pixels emit (0, 0, 0) — GDAL's nodata-black convention;
    all-NaN tiles are still emitted (black), since downstream tile
    consumers of a c=3 export expect full coverage of stored tiles.

    Plan: one tile scan -> one Arrow map stage (vectorized LUT per
    tile) -> TILE_SCHEMA rows, no shuffle at all.
    """
    from ..api import PyramidDataset
    from ..sources.catalog import TILE_SCHEMA, read_level

    pts = sorted((float(v), tuple(int(x) for x in rgb)) for v, rgb in ramp)
    if len(pts) < 2:
        raise ValueError("ramp needs at least 2 breakpoints")
    if len({v for v, _ in pts}) != len(pts):
        raise ValueError("ramp has duplicate breakpoint values")
    for _, rgb in pts:
        if len(rgb) != 3 or any(not (0 <= x <= 255) for x in rgb):
            raise ValueError(f"ramp colors must be (r, g, b) in 0..255: {rgb}")
    bvals = np.array([v for v, _ in pts], dtype=np.float64)
    bcols = np.array([c for _, c in pts], dtype=np.int64)  # (n, 3)

    spec = PyramidDataset.open(spark, path).spec
    tiles = read_level(spark, path, z)
    if any(f.name == "t" for f in tiles.schema.fields):
        raise ValueError("color_relief expects a flat (x, y) level")
    zz = int(z)
    snap = bool(nearest)

    def gen(batches):
        from ..functions.codec import decode_tile

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
                if a.ndim == 3:
                    raise ValueError("color_relief expects single-band levels")
                a = a.astype(np.float64, copy=False)
                valid = np.isfinite(a)
                v = np.clip(np.where(valid, a, bvals[0]), bvals[0], bvals[-1])
                rgb = np.zeros((a.shape[0], a.shape[1], 3), dtype=np.uint8)
                if snap:
                    i = np.clip(
                        np.searchsorted(bvals, v, side="right") - 1,
                        0, len(bvals) - 2,
                    )
                    lo_d = v - bvals[i]
                    hi_d = bvals[i + 1] - v
                    pick = np.where(lo_d <= hi_d, i, i + 1)  # tie -> lower
                    col = bcols[pick]
                else:
                    i = np.clip(
                        np.searchsorted(bvals, v, side="right") - 1,
                        0, len(bvals) - 2,
                    )
                    b0, b1 = bvals[i], bvals[i + 1]
                    c0, c1 = bcols[i], bcols[i + 1]
                    frac = ((v - b0)[..., None] * (c1 - c0)) / (b1 - b0)[..., None]
                    col = np.floor(c0 + frac + 0.5).astype(np.int64)
                rgb[valid] = col[valid].astype(np.uint8)
                out.append(_tile_row(spec, zz, int(row.tx), int(row.ty), rgb))
            yield _rows_to_pdf(out)

    return tiles.mapInPandas(gen, TILE_SCHEMA)


def contour_polylines(
    spark,
    path: str,
    levels,
    z: int = 0,
    driver_resolve_max_edges: int = 1_000_000,
):
    """Stitch ``contour_segments`` output into POLYLINES (the other half
    of ``gdal_contour``): every segment gets a ``polyline_id`` (the
    smallest segment id in its chain) and a ``closed`` flag (ring vs
    open line hitting the raster border / a nodata hole).

    Why this is a pure equi-join problem: when no pixel value EQUALS a
    contour level, every endpoint lies strictly inside a cell edge, and
    both cells sharing that edge interpolate the same two corner values
    with the same IEEE ops — so a shared endpoint is BIT-identical and
    endpoint degree is at most 2. A level that ties a pixel value puts
    endpoints ON cell corners (degree up to 8, ambiguous topology) —
    detected by a degree probe and raised loudly (pinned in tests);
    nudge the level off the value lattice (GDAL users do the same
    epsilon shift). Chains are then connected components of the
    segment graph:

    1. melt each segment to its two (level, ex, ey) endpoint rows;
    2. one hash aggregate per endpoint: degree + the <= 2 segment ids;
    3. degree-2 endpoints become edges; ``connected_components``
       (dedup.py — driver union-find tier below
       ``driver_resolve_max_edges`` edges, pointer-doubled min-label
       loop above) labels the chains;
    4. ``closed`` = the chain has zero degree-1 endpoints.

    Columns: ``(level, polyline_id, closed, cx, cy, k, x0, y0, x1,
    y1)``. Ordering along the chain is NOT materialized (at 100 TB a
    single coastline contour is unbounded; ordering is a per-polyline
    consumer walk over its own segments — dims-sized after this op
    hands each chain its id).

    Reference parity: none — north-rule raster->vector surface, the
    consumer of ``contour_segments``.
    """
    from ..api import PyramidDataset
    from ..operators.dedup import connected_components
    from ..plans.grid import level_shape

    lvls = tuple(float(v) for v in levels)
    spec = PyramidDataset.open(spark, path).spec
    lw, lh = level_shape((spec.base_w, spec.base_h), z)
    segs = contour_segments(spark, path, lvls, z)
    arr = ", ".join(f"{v!r}D" for v in lvls)  # D: double literals, not DECIMAL
    segs = segs.withColumn(
        "sid",
        (
            (F.expr(f"array_position(array({arr}), level)") - 1)
            * F.lit(int(lh)) + F.col("cy")
        ) * F.lit(int(lw) * 2) + F.col("cx") * 2 + F.col("k"),
    ).localCheckpoint()  # 3 downstream branches; never recompute the scan

    eps = segs.select(
        "level", "sid", F.col("x0").alias("ex"), F.col("y0").alias("ey")
    ).unionByName(
        segs.select(
            "level", "sid", F.col("x1").alias("ex"), F.col("y1").alias("ey")
        )
    )
    nodes = eps.groupBy("level", "ex", "ey").agg(
        F.collect_list("sid").alias("ss")
    ).select(F.size("ss").alias("deg"), "ss").localCheckpoint()
    md = nodes.agg(F.max("deg").alias("m")).collect()[0]["m"]
    if md is not None and md > 2:
        raise AssertionError(
            f"contour endpoint with degree {md} — marching-squares "
            "invariant violated (corrupt level or value == level pixels)"
        )
    edges = nodes.where("deg = 2").select(
        F.array_min("ss").alias("id_a"), F.array_max("ss").alias("id_b")
    )
    cc = connected_components(
        edges, driver_resolve_max_edges=driver_resolve_max_edges
    ).select(F.col("id").alias("sid"), F.col("component").alias("pid"))
    opens = nodes.where("deg = 1").select(
        F.explode("ss").alias("sid")
    ).groupBy("sid").agg(F.count(F.lit(1)).alias("n_open"))

    labeled = (
        segs.join(cc, "sid", "left")
        .withColumn("polyline_id", F.coalesce("pid", "sid"))
        .join(opens, "sid", "left")
    )
    closed_tab = labeled.groupBy("polyline_id").agg(
        (F.sum(F.coalesce(F.col("n_open"), F.lit(0))) == 0).alias("closed")
    )
    return labeled.join(closed_tab, "polyline_id").select(
        "level", "polyline_id", "closed",
        "cx", "cy", "k", "x0", "y0", "x1", "y1",
    )


def raster_histogram(
    spark,
    path: str,
    z: int = 0,
    bins: int | None = None,
    vmin: float | None = None,
    vmax: float | None = None,
):
    """Value histogram of a pyramid level — the stretch/symbology/QA
    statistic every raster engine ships (GDAL ``gdalinfo -hist``).

    ``bins=None`` (integer rasters only): EXACT per-value counts,
    columns ``(value long, n long)``. With ``bins``/``vmin``/``vmax``:
    fixed-width binning over ``[vmin, vmax)`` (the GDAL bucket rule:
    values at ``vmax`` land in the last bucket), columns ``(bin int,
    lo double, hi double, n long)``; out-of-range pixels are dropped,
    NaN is nodata (excluded), per the engine convention.

    Plan shape (the reason this is cheap at 100 TB): one tile scan ->
    ``mapInPandas`` folds each Arrow batch's tiles into ONE partial
    (bin, n) frame via ``np.unique``/``bincount`` — so the shuffle
    carries at most (scan partitions x occupied bins) rows, never
    pixels — then a single hash aggregate sums partials. Map-side
    combining is structural, not optimizer-dependent.
    """
    from ..functions.codec import decode_tile
    from ..sources.catalog import read_level

    nb, lo, hi = _bin_args("raster_histogram", bins, vmin, vmax)

    def gen(batches):
        for pdf in batches:
            acc: dict[int, int] = {}
            for row in pdf.itertuples():
                a = decode_tile(row.bytes, row.h, row.w, row.dtype,
                                getattr(row, "c", 1))
                vals, cnts = _value_counts(a.ravel(), "raster_histogram", nb, lo, hi)
                for v, c in zip(vals.tolist(), cnts.tolist()):
                    acc[v] = acc.get(v, 0) + c
            yield pd.DataFrame({"bin": list(acc), "n": list(acc.values())})

    part = read_level(spark, path, z).mapInPandas(gen, "bin long, n long")
    agg = part.groupBy("bin").agg(F.sum("n").alias("n"))
    if nb is None:
        return agg.select(F.col("bin").alias("value"), "n")
    w = (hi - lo) / nb
    return agg.select(
        F.col("bin").cast("int").alias("bin"),
        (F.lit(lo) + F.col("bin") * F.lit(w)).alias("lo"),
        (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("hi"),
        "n",
    )


def raster_crosstab(
    spark,
    path_a: str,
    path_b: str,
    z_a: int = 0,
    z_b: int = 0,
):
    """Two-raster contingency table (``terra::crosstab`` / the
    change-detection matrix every land-cover pipeline reports): exact
    per-(va, vb) pixel counts over two SAME-GRID levels. Pixels where
    either raster is NaN are excluded (nodata convention); both rasters
    must be integer-valued with |v| < 2^30 (categorical semantics —
    raises inside the stage otherwise, mirroring ``raster_histogram``'s
    exact mode).

    Plan shape: two tile scans equi-joined on (tx, ty) — same-key
    partitioning, never pixels across the wire beyond the tile payloads
    themselves — then one Arrow stage per joined batch packs pairs into
    int64 31-bit lanes ((va+2^30) << 31 | (vb+2^30)) and ``np.unique``-counts them,
    so the final shuffle carries at most (tiles x occupied pairs) skinny
    rows into a JVM hash aggregate. Columns ``(va long, vb long,
    n long)``.

    Reference parity: none — north-rule raster-analysis surface (the
    two-raster generalization of ``raster_histogram``).
    """
    from ..functions.codec import decode_tile
    from ..sources.catalog import read_level

    a = read_level(spark, path_a, z_a)
    b = read_level(spark, path_b, z_b)
    for side, df in (("a", a), ("b", b)):
        if any(f.name == "t" for f in df.schema.fields):
            raise ValueError(f"raster_crosstab expects flat levels (side {side})")
    cols = ["tx", "ty", "bytes", "w", "h", "dtype", "c"]
    j = (
        a.select(*[F.col(n).alias(n if n in ("tx", "ty") else f"a_{n}") for n in cols])
        .join(
            b.select(*[F.col(n).alias(n if n in ("tx", "ty") else f"b_{n}") for n in cols]),
            on=["tx", "ty"],
        )
    )

    def gen(batches):
        for pdf in batches:
            parts = []
            for row in pdf.itertuples(index=False):
                va = decode_tile(row.a_bytes, row.a_h, row.a_w, row.a_dtype, row.a_c)
                vb = decode_tile(row.b_bytes, row.b_h, row.b_w, row.b_dtype, row.b_c)
                if va.shape != vb.shape:
                    raise ValueError(
                        f"tile ({row.tx}, {row.ty}) shape mismatch: "
                        f"{va.shape} vs {vb.shape} — levels are not same-grid"
                    )
                fa = va.astype(np.float64, copy=False)
                fb = vb.astype(np.float64, copy=False)
                m = np.isfinite(fa) & np.isfinite(fb)
                if not m.any():
                    continue
                ia = np.rint(fa[m]).astype(np.int64)
                ib = np.rint(fb[m]).astype(np.int64)
                if (ia != fa[m]).any() or (ib != fb[m]).any():
                    raise ValueError(
                        "raster_crosstab requires integer-valued rasters"
                    )
                if (np.abs(ia) >= 1 << 30).any() or (np.abs(ib) >= 1 << 30).any():
                    raise ValueError("crosstab values must satisfy |v| < 2^30")
                # 31-bit lanes with a 2^30 bias: max packed value is
                # < 2^62, safely inside int64
                packed = ((ia + (1 << 30)) << 31) | (ib + (1 << 30))
                u, n = np.unique(packed, return_counts=True)
                parts.append(pd.DataFrame({
                    "va": (u >> 31) - (1 << 30),
                    "vb": (u & ((1 << 31) - 1)) - (1 << 30),
                    "n": n.astype(np.int64),
                }))
            yield (
                pd.concat(parts, ignore_index=True)
                if parts
                else pd.DataFrame({"va": pd.Series(dtype="int64"),
                                   "vb": pd.Series(dtype="int64"),
                                   "n": pd.Series(dtype="int64")})
            )

    partials = j.mapInPandas(gen, "va long, vb long, n long")
    return partials.groupBy("va", "vb").agg(
        F.sum("n").cast("long").alias("n")
    )


def histogram_equalize(
    spark,
    path: str,
    z: int = 0,
    levels: int = 256,
    max_distinct: int = 65536,
) -> DataFrame:
    """Global histogram equalization of an INTEGER pyramid level (the
    classical contrast stretch; GDAL ``gdal_translate -scale`` territory,
    scikit-image ``equalize_hist`` discrete twin): every pixel value
    ``v`` maps to

        ``eq(v) = round((cdf(v) - cdf_min) * (levels-1) / (n - cdf_min))``

    where ``cdf`` is the cumulative pixel count and ``cdf_min`` is the
    cdf of the smallest occupied value — carried out in EXACT integer
    arithmetic (round-half-up: ``(2*num + den) DIV (2*den)``), so the
    mapping is engine-portable bit-for-bit. A constant raster maps to 0.

    Plan: one ``raster_histogram`` pass (map-side ``np.unique``
    partials, shuffle bounded by occupied values x partitions — never
    pixels), a DIMS-SIZED driver gather of the value->count table
    (gated: > ``max_distinct`` occupied values raises — the
    ``connected_components`` driver-tier discipline; at 100 TB an int
    raster's value domain is the small side by construction), then one
    broadcast-LUT ``mapInPandas`` remap of the tiles (``np.searchsorted``
    per Arrow batch, no Python per pixel). Output dtype uint8 when
    ``levels <= 256`` else int32; TILE_SCHEMA rows — compose with
    ``write_level`` / ``build_overviews`` to re-pyramid.

    Reference parity: none (PyramidScheme.jl has no histogram ops) —
    north-rule image-axis surface.
    """
    from ..api import PyramidDataset
    from ..functions.codec import decode_tile, encode_tile
    from ..sources.catalog import TILE_SCHEMA, read_level

    if levels < 2:
        raise ValueError(f"levels must be >= 2, got {levels}")
    spec = PyramidDataset.open(spark, path).spec
    hist = (
        raster_histogram(spark, path, z=z)
        .orderBy("value")
        .limit(max_distinct + 1)
        .collect()
    )
    if len(hist) > max_distinct:
        raise ValueError(
            f"level {z} has more than max_distinct={max_distinct} occupied "
            "values; histogram equalization needs the value domain driver-"
            "sized (raise max_distinct or reclassify/bin first)"
        )
    if not hist:
        return spark.createDataFrame([], TILE_SCHEMA)
    vals = np.array([r["value"] for r in hist], dtype=np.int64)
    cnts = np.array([r["n"] for r in hist], dtype=np.int64)
    cdf = np.cumsum(cnts)
    n = int(cdf[-1])
    cmin = int(cdf[0])
    den = n - cmin
    if den == 0:  # constant raster
        lut = np.zeros(len(vals), dtype=np.int64)
    else:
        num = (cdf - cmin) * (levels - 1)
        lut = (2 * num + den) // (2 * den)  # round-half-up, exact ints
    out_dtype = "uint8" if levels <= 256 else "int32"
    vals_l, lut_l = vals.tolist(), lut.tolist()  # literals, tiny broadcast

    def remap(batches):
        v = np.asarray(vals_l, dtype=np.int64)
        m = np.asarray(lut_l, dtype=np.int64)
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if not str(row.dtype).startswith(("int", "uint")):
                    raise ValueError(
                        "histogram_equalize needs an integer level, got "
                        f"dtype={row.dtype!r}"
                    )
                a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
                idx = np.searchsorted(v, a.astype(np.int64))
                eq = m[idx].astype(out_dtype)
                out.append(_tile_row(spec, z, int(row.tx), int(row.ty), eq))
            yield _rows_to_pdf(out)

    return read_level(spark, path, z).mapInPandas(remap, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# warp: axis-aligned affine regrid (GDAL ``gdalwarp`` without rotation) —
# nearest-neighbor resampling on an EXACT rational pixel mapping, reading
# from the pyramid level nearest the target resolution (the serving use the
# pyramid exists for: regrid/zoom without touching the base).


def _rational(s) -> tuple[int, int]:
    num, den = (int(s[0]), int(s[1])) if isinstance(s, (tuple, list)) else (int(s), 1)
    if num <= 0 or den <= 0:
        raise ValueError(f"scale must be a positive rational, got {num}/{den}")
    return num, den


def _warp_bilinear_tile(pdf, X, Y, vx, vy, c, nx, dx, ox, ny, dy, oy,
                        L, ts, bw, bh):
    """Bilinear gather for one output tile: paste the joined source tiles
    into a (window + valid-mask) pair, then one vectorized 4-neighbor
    blend. Weights are exact rationals with denominators ``Qx = 2*dx*2^L``
    / ``Qy = 2*dy*2^L``: integer sources accumulate the 4-term numerator
    in int64 and divide ONCE (bit-portable, the focal-mean discipline);
    float sources blend in float64 (NaN nodata propagates). Neighbor
    indices clamp to the level extent (edge replicate); a pixel is valid
    iff its NEAREST neighbor is in-extent AND all 4 (clamped) window
    cells hold stored data."""
    from ..functions.codec import decode_tile

    lw = ((bw - 1) >> L) + 1
    lh = ((bh - 1) >> L) + 1
    QX = (2 * dx) << L
    QY = (2 * dy) << L
    # continuous sample pos minus half a level pixel, as PX/QX (exact)
    PX = (2 * X + 1) * nx + 2 * ox * dx - (dx << L)
    PY = (2 * Y + 1) * ny + 2 * oy * dy - (dy << L)
    i0x = PX // QX  # numpy floor division (left edge goes negative)
    i0y = PY // QY
    rx = PX - i0x * QX
    ry = PY - i0y * QY
    jx0 = np.clip(i0x, 0, lw - 1)
    jx1 = np.clip(i0x + 1, 0, lw - 1)
    jy0 = np.clip(i0y, 0, lh - 1)
    jy1 = np.clip(i0y + 1, 0, lh - 1)
    wx0, wx1 = int(jx0.min()), int(jx1.max())
    wy0, wy1 = int(jy0.min()), int(jy1.max())
    ww, wh = wx1 - wx0 + 1, wy1 - wy0 + 1
    src_dtype = str(pdf["dtype"].iloc[0])
    is_int = not src_dtype.startswith("float")
    wshape = (wh, ww) if c == 1 else (wh, ww, c)
    W = np.zeros(wshape, dtype=np.int64 if is_int else np.float64)
    V = np.zeros((wh, ww), dtype=bool)
    vmax_abs = 0
    for row in pdf.itertuples(index=False):
        a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
        sx0, sy0 = int(row.stx) * ts, int(row.sty) * ts
        cx0 = max(sx0, wx0)
        cx1 = min(sx0 + int(row.w) - 1, wx1)
        cy0 = max(sy0, wy0)
        cy1 = min(sy0 + int(row.h) - 1, wy1)
        if cx0 > cx1 or cy0 > cy1:
            continue
        blk = a[cy0 - sy0 : cy1 - sy0 + 1, cx0 - sx0 : cx1 - sx0 + 1]
        W[cy0 - wy0 : cy1 - wy0 + 1, cx0 - wx0 : cx1 - wx0 + 1] = blk
        V[cy0 - wy0 : cy1 - wy0 + 1, cx0 - wx0 : cx1 - wx0 + 1] = True
        if is_int and blk.size:
            vmax_abs = max(vmax_abs, int(np.abs(blk).max()))
    if is_int and vmax_abs * QX * QY > (1 << 53):
        # numerator must stay exactly representable as float64 for the
        # single-division contract; past 2^53 fall back to float64
        # accumulation (precision note in the warp_affine docstring)
        W = W.astype(np.float64)
        is_int = False
    ax0, ax1 = jx0 - wx0, jx1 - wx0
    ay0, ay1 = jy0 - wy0, jy1 - wy0
    v00 = W[ay0[:, None], ax0[None, :]]
    v10 = W[ay0[:, None], ax1[None, :]]
    v01 = W[ay1[:, None], ax0[None, :]]
    v11 = W[ay1[:, None], ax1[None, :]]
    ok = (
        vx[None, :] & vy[:, None]
        & V[ay0[:, None], ax0[None, :]] & V[ay0[:, None], ax1[None, :]]
        & V[ay1[:, None], ax0[None, :]] & V[ay1[:, None], ax1[None, :]]
    )
    wxl, wxr = (QX - rx), rx            # left/right column weights
    wyt, wyb = (QY - ry), ry            # top/bottom row weights
    w00 = wyt[:, None] * wxl[None, :]
    w10 = wyt[:, None] * wxr[None, :]
    w01 = wyb[:, None] * wxl[None, :]
    w11 = wyb[:, None] * wxr[None, :]
    if c > 1:
        w00, w10, w01, w11 = (w[..., None] for w in (w00, w10, w01, w11))
    num = v00 * w00 + v10 * w10 + v01 * w01 + v11 * w11
    out = num.astype(np.float64) / float(QX * QY)
    mask = ok if c == 1 else ok[..., None]
    return np.where(mask, out, np.nan)


def warp_affine(
    spark,
    path: str,
    out_shape: tuple[int, int],
    scale,
    scale_y=None,
    offset: tuple[int, int] = (0, 0),
    z: int | str = "auto",
    tilesize: int = 256,
    resampling: str = "nearest",
) -> DataFrame:
    """Regrid a stored pyramid onto a new ``out_shape = (out_w, out_h)``
    pixel grid by an axis-aligned affine map (scale + translate — GDAL
    ``gdalwarp -tr/-te`` territory; rotation is out of scope) with
    nearest-neighbor resampling. ``scale`` (and optional anisotropic
    ``scale_y``) is *source base pixels per output pixel* as an exact
    rational ``(num, den)`` (or a bare int); ``offset`` is an integer
    base-pixel translation. Output pixel ``X`` samples source base pixel

        ``bx = ((2*X + 1) * num) // (2 * den) + off_x``

    — the GDAL center rule ``floor((X + 0.5) * scale + off)`` carried out
    in exact int64, so the mapping is engine-portable (the DuckDB oracle
    reruns the same integer arithmetic, no float grid math anywhere).

    ``z="auto"`` reads from the coarsest stored level whose pixels are
    still no coarser than the output sampling rate (largest L with
    ``2^L <= min(scale_x, scale_y)``, the GDAL overview-selection rule):
    a 16x zoom-out warp reads level 4 — 1/256th of the base bytes — which
    is the whole point of having built the pyramid. Sampling from level L
    snaps through ``bx >> L``. Pass an explicit ``z`` to pin (the oracle
    row pins 0 for closed-form exactness).

    Plan shape (scales like focal/rasterize, everything JVM-side until
    the per-tile gather):

    1. ``spark.range`` over the OUTPUT tile grid (no driver lists);
       closed-form int expressions bound each output tile's needed source
       base-pixel rectangle, clamped to the source extent; tiles mapping
       entirely outside are dropped here (sparse output, never computed).
    2. ``explode(sequence(...))`` twice fans out to needed source tile
       coords — with auto level choice each output tile touches at most
       ~(ts*scale/2^L/ts + 1)^2 <= 9 source tiles, so shuffle volume is
       bounded by source bytes x <=4 typical replication.
    3. Equi-join on the source level's (tx, ty) — broadcast-or-shuffle is
       AQE's call; both sides are already partitioned by tile key shape.
    4. ``groupBy(otx, oty)`` + ``applyInPandas`` gathers: per source tile
       the hit output rows/cols are contiguous index runs (the mapping is
       monotonic), one fancy-index assignment each — no per-pixel Python.

    dtype: if the full output grid maps inside the source extent (closed
    form on the corner pixels — the map is monotonic), the source dtype
    is preserved exactly; otherwise the output is float64 with NaN
    nodata, uniformly (no per-tile dtype mixing). All-nodata tiles are
    dropped (sparse-raster semantics, as rasterize/zonal).

    ``resampling="bilinear"`` (GDAL ``-r bilinear``) interpolates the 4
    level-pixel neighbors of the continuous sample position ``gx =
    (X + 0.5) * scale + off`` (pixel centers at ``i + 0.5``), edge
    neighbors CLAMPED to the raster (replicate). The weights are exact
    rationals with denominator ``Q = 2 * den * 2^L``: for integer
    sources the 4-term numerator is accumulated in int64 and divided
    ONCE by ``Qx*Qy`` — engine-portable bit-for-bit (the focal-mean
    discipline; the DuckDB oracle replays the identical integer
    arithmetic). Output dtype is always float64 (interpolated values
    are fractional); a pixel is valid iff its NEAREST source pixel is
    in-extent (the NN validity rule, so nearest and bilinear agree on
    the nodata footprint). Int64 sources whose ``|v| * Qx * Qy`` could
    overflow fall back to float64 accumulation (documented precision,
    not silence).

    Returns TILE_SCHEMA rows at ``z=0`` of a NEW pyramid base of
    ``out_shape`` — compose with ``write_level`` + ``write_multiscales``
    + ``build_overviews`` to re-pyramid the warped raster.

    Reference parity note: PyramidScheme.jl has no warp (it always
    serves the native grid via selectlevel, src/PyramidScheme.jl:447-467);
    this is north-rule surface — the regrid every raster engine pairs
    with a tiling service.
    """
    from ..api import PyramidDataset
    from ..functions.codec import decode_tile
    from ..sources.catalog import TILE_SCHEMA, read_level

    out_w, out_h = int(out_shape[0]), int(out_shape[1])
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"out_shape must be positive, got {out_shape}")
    if resampling not in ("nearest", "bilinear"):
        raise ValueError(
            f"resampling must be 'nearest' or 'bilinear', got {resampling!r}"
        )
    numx, denx = _rational(scale)
    numy, deny = _rational(scale_y if scale_y is not None else scale)
    offx, offy = int(offset[0]), int(offset[1])

    spec = PyramidDataset.open(spark, path).spec
    bw, bh = spec.base_w, spec.base_h
    ts_src = spec.tilesize
    if z == "auto":
        lvl = 0
        while (
            lvl + 1 <= spec.nlevels
            and (1 << (lvl + 1)) * denx <= numx  # 2^(l+1) <= scale_x
            and (1 << (lvl + 1)) * deny <= numy  # 2^(l+1) <= scale_y
        ):
            lvl += 1
    else:
        lvl = int(z)
        if lvl < 0 or lvl > spec.nlevels:
            raise ValueError(f"level {lvl} out of range for {spec.nlevels + 1}-level pyramid")

    # closed-form full-coverage test on the corner pixels (monotonic map)
    def _bpx(X: int, num: int, den: int, off: int) -> int:
        return ((2 * X + 1) * num) // (2 * den) + off

    covered = (
        _bpx(0, numx, denx, offx) >= 0
        and _bpx(out_w - 1, numx, denx, offx) < bw
        and _bpx(0, numy, deny, offy) >= 0
        and _bpx(out_h - 1, numy, deny, offy) < bh
    )

    out_spec = PyramidSpec(out_w, out_h, tilesize)
    ontx = -(-out_w // tilesize)
    onty = -(-out_h // tilesize)

    grid = spark.range(ontx * onty).select(
        (F.col("id") % ontx).cast("int").alias("otx"),
        F.expr(f"CAST(id DIV {ontx} AS INT)").alias("oty"),
    )

    # the center rule as EXACT int64 SQL (div = integer division; every
    # operand is non-negative before the offset add, so trunc == floor —
    # no double division anywhere: floor(double) goes off-by-one exactly
    # at the integer boundaries NN sampling lands on)
    def _bsql(px: str, num: int, den: int, off: int) -> str:
        return f"((2 * CAST({px} AS BIGINT) + 1) * {num}) DIV {2 * den} + ({off})"

    x0s = f"(CAST(otx AS BIGINT) * {tilesize})"
    x1s = f"(LEAST(CAST({out_w} AS BIGINT), (CAST(otx AS BIGINT) + 1) * {tilesize}) - 1)"
    y0s = f"(CAST(oty AS BIGINT) * {tilesize})"
    y1s = f"(LEAST(CAST({out_h} AS BIGINT), (CAST(oty AS BIGINT) + 1) * {tilesize}) - 1)"

    # bilinear touches at most the level pixel one step either side of
    # the NN pixel: widen the base-pixel gather bounds by one LEVEL
    # pixel (2^lvl base px) before the clamp — the tile fan-out below is
    # unchanged math over the wider rectangle
    pad = (1 << lvl) if resampling == "bilinear" else 0
    bounds = grid.select(
        "otx", "oty",
        F.expr(f"GREATEST({_bsql(x0s, numx, denx, offx)} - {pad}, 0)").alias("bx0"),
        F.expr(f"LEAST({_bsql(x1s, numx, denx, offx)} + {pad}, {bw - 1})").alias("bx1"),
        F.expr(f"GREATEST({_bsql(y0s, numy, deny, offy)} - {pad}, 0)").alias("by0"),
        F.expr(f"LEAST({_bsql(y1s, numy, deny, offy)} + {pad}, {bh - 1})").alias("by1"),
    ).where((F.col("bx0") <= F.col("bx1")) & (F.col("by0") <= F.col("by1")))
    # generators can't nest in one select (r7 lesson): explode per axis
    pairs = bounds.select(
        "otx", "oty", "by0", "by1",
        F.explode(
            F.expr(
                f"sequence(SHIFTRIGHT(bx0, {lvl}) DIV {ts_src},"
                f" SHIFTRIGHT(bx1, {lvl}) DIV {ts_src})"
            ).cast("array<int>")
        ).alias("stx"),
    ).select(
        "otx", "oty", "stx",
        F.explode(
            F.expr(
                f"sequence(SHIFTRIGHT(by0, {lvl}) DIV {ts_src},"
                f" SHIFTRIGHT(by1, {lvl}) DIV {ts_src})"
            ).cast("array<int>")
        ).alias("sty"),
    )

    src = read_level(spark, path, lvl).select(
        F.col("tx").alias("stx"), F.col("ty").alias("sty"),
        "bytes", "w", "h", "c", "dtype",
    )
    joined = pairs.join(src, ["stx", "sty"])

    consts = (numx, denx, offx, numy, deny, offy, lvl, ts_src, tilesize,
              out_w, out_h, bw, bh, covered, resampling)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        (nx, dx, ox, ny, dy, oy, L, ts, ots, ow_all, oh_all, bw_, bh_, cov,
         rs) = consts
        if pdf.empty:
            return _rows_to_pdf([])
        otx = int(pdf["otx"].iloc[0])
        oty = int(pdf["oty"].iloc[0])
        x0, y0, ow, oh = tile_pixel_window((ow_all, oh_all), 0, otx, oty, ots)
        X = x0 + np.arange(ow, dtype=np.int64)
        Y = y0 + np.arange(oh, dtype=np.int64)
        bx = ((2 * X + 1) * nx) // (2 * dx) + ox
        by = ((2 * Y + 1) * ny) // (2 * dy) + oy
        vx = (bx >= 0) & (bx < bw_)
        vy = (by >= 0) & (by < bh_)
        c = int(pdf["c"].iloc[0])
        src_dtype = str(pdf["dtype"].iloc[0])
        if rs == "bilinear":
            out = _warp_bilinear_tile(
                pdf, X, Y, vx, vy, c, nx, dx, ox, ny, dy, oy, L, ts, bw_, bh_)
            if cov and not str(src_dtype).startswith("float") \
                    and np.isnan(out).any():
                raise ValueError(
                    f"warp output tile ({otx},{oty}) has unsampled pixels in "
                    "a fully-covered warp — source level is missing tiles"
                )
            if np.isnan(out).all():
                return _rows_to_pdf([])
            return _rows_to_pdf([_tile_row(out_spec, 0, otx, oty, out)])
        lx = bx >> L
        ly = by >> L
        shape = (oh, ow) if c == 1 else (oh, ow, c)
        out = np.full(shape, np.nan, dtype=np.float64)
        for row in pdf.itertuples(index=False):
            a = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
            sx0, sy0 = int(row.stx) * ts, int(row.sty) * ts
            ix = np.where(vx & (lx >= sx0) & (lx < sx0 + int(row.w)))[0]
            iy = np.where(vy & (ly >= sy0) & (ly < sy0 + int(row.h)))[0]
            if ix.size and iy.size:
                out[np.ix_(iy, ix)] = a[(ly[iy] - sy0)[:, None], (lx[ix] - sx0)[None, :]]
        if cov:
            if np.isnan(out).any():
                raise ValueError(
                    f"warp output tile ({otx},{oty}) has unsampled pixels in "
                    "a fully-covered warp — source level is missing tiles"
                )
            out = out.astype(src_dtype, copy=False)
        elif np.isnan(out).all():
            return _rows_to_pdf([])
        return _rows_to_pdf([_tile_row(out_spec, 0, otx, oty, out)])

    return joined.groupBy("otx", "oty").applyInPandas(assemble, TILE_SCHEMA)


def render_viewport(
    spark,
    path: str,
    extent: tuple[int, int, int, int],
    out_size: tuple[int, int],
    tilesize: int = 256,
    resampling: str = "nearest",
) -> DataFrame:
    """The tile-server shape (GDAL ``ReadAsArray(buf_xsize=, buf_ysize=)``):
    render an integer world-pixel ``extent = (xmin, ymin, xmax, ymax)`` of
    the pyramid onto an exactly ``out_size = (ow, oh)`` grid. Pure
    composition: the extent/out ratio IS an exact rational scale, so this
    is ``warp_affine`` with ``scale=(xmax-xmin, ow)``, ``offset=(xmin,
    ymin)`` and the auto overview-level rule — a 16x-zoomed-out viewport
    reads level 4, never the base. Complements ``read_window`` (which
    serves the chosen level's NATIVE grid clipped to the extent); this
    returns the caller's exact raster shape.
    """
    x0, y0, x1, y1 = (int(v) for v in extent)
    if not (x1 > x0 and y1 > y0):
        raise ValueError(f"empty extent {extent}")
    ow, oh = int(out_size[0]), int(out_size[1])
    return warp_affine(
        spark, path, (ow, oh), (x1 - x0, ow), (y1 - y0, oh),
        offset=(x0, y0), z="auto", tilesize=tilesize, resampling=resampling,
    )
