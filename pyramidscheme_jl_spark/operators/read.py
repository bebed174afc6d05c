"""Read-side operators (SURVEY.md §2.4-§2.7): windowed reads, subsetting,
elementwise maps, zip-joins (broadcast), equality, concatenation.

Design: driver-sized reads (``read_window``, ``read(z)``) run no Spark
job — ``catalog.read_tiles_local`` opens only the files and row groups
holding the wanted tiles of one level, the analogue of the reference's
``selectlevel`` chunk-pruned read (src/PyramidScheme.jl:447-467), and
``build._mosaic`` assembles them. Distributed consumers scan with
``catalog.read_level`` (``z`` partition pruning, tx/ty row-group stats).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import decode_tile, encode_tile
from ..plans.grid import agg_axis, extents_intersect, plan_window
from ..sources.catalog import TILE_SCHEMA, read_tiles_local
from .build import PyramidSpec, _mosaic, _rows_to_pdf, _tile_row, _tile_stats

# ---------------------------------------------------------------------------
# L1-L3 + F1-F3: windowed viewport read
# ---------------------------------------------------------------------------


def _pieces(tiles: pd.DataFrame, T_: int, ty0: int = 0, tx0: int = 0):
    """Decoded ``_mosaic`` pieces placed relative to tile ``(tx0, ty0)``."""
    return (
        ((r["ty"] - ty0) * T_, (r["tx"] - tx0) * T_,
         decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"]))
        for r in tiles.to_dict("records")
    )


def read_window(
    spark: SparkSession,
    path: str,
    spec: PyramidSpec,
    extent: tuple[float, float, float, float],
    target_imsize: tuple[int, int] = (1024, 512),
):
    """The signature read query (reference ``plot``/``selectlevel`` loop,
    ext/PyramidSchemeMakieExt.jl:55-106): pick the level for the viewport,
    read only its intersecting tiles driver-side (``read_tiles_local``, no
    Spark job), assemble with ``_mosaic``, crop. ``spark`` is unused.

    Returns ``(array, x_axis, y_axis, z)``; array is ``<= target_imsize``
    by construction. Missing tiles read as NaN for float dtypes (0 for
    ints), like stored no-data. A non-intersecting extent or a tile range
    with no stored tile returns an empty array (reference :456).
    """
    base_ext = (0.0, 0.0, float(spec.base_w), float(spec.base_h))
    if not extents_intersect(extent, base_ext):
        return np.zeros((0, 0)), np.zeros(0), np.zeros(0), 0
    p = plan_window((spec.base_w, spec.base_h), spec.nlevels, extent, target_imsize, spec.tilesize)
    tiles = read_tiles_local(path, p.z, range(p.tx0, p.tx1 + 1), range(p.ty0, p.ty1 + 1))
    if not len(tiles):
        return np.zeros((0, 0)), np.zeros(0), np.zeros(0), p.z
    T_ = spec.tilesize
    plane = _mosaic(  # the whole tile range, then the planned pixel crop
        _pieces(tiles, T_, p.ty0, p.tx0),
        shape=((p.ty1 - p.ty0 + 1) * T_, (p.tx1 - p.tx0 + 1) * T_),
    )
    out = plane[p.py0 - p.ty0 * T_ : p.py1 - p.ty0 * T_, p.px0 - p.tx0 * T_ : p.px1 - p.tx0 * T_]
    # midpoint axes (agg_axis semantics, ref src/PyramidScheme.jl:297-304)
    base_x = np.arange(spec.base_w, dtype=np.float64) + 0.5
    base_y = np.arange(spec.base_h, dtype=np.float64) + 0.5
    ax = agg_axis(base_x, 1 << p.z)[p.px0 : p.px1]
    ay = agg_axis(base_y, 1 << p.z)[p.py0 : p.py1]
    return out, ax, ay, p.z


def read_level_array(spark: SparkSession, path: str, spec: PyramidSpec, z: int) -> np.ndarray:
    """P3 eager read: stitch one stored level into a single numpy array
    (the reference's ``read(pyr) = modify(Array, pyr)`` materialization,
    src/PyramidScheme.jl:109-116, per level); no Spark job. Driver-sized
    by definition — viewport queries should use ``read_window`` instead."""
    tiles = read_tiles_local(path, z)
    if not len(tiles):
        return np.zeros((0, 0))
    return _mosaic(_pieces(tiles, spec.tilesize))


def subset_tiles(tiles: DataFrame, x0: int, x1: int, y0: int, y1: int, tilesize: int = 256) -> DataFrame:
    """F1 ``rebuildsliced``: base-pixel range -> per-level tile predicates.

    The level-z range is the bit-shifted base range (``levelindex``,
    reference src/PyramidScheme.jl:128-136,161-164); all predicates are
    JVM-side column expressions so Catalyst pushes them into the scan.
    ``x1``/``y1`` are exclusive.
    """
    lo_tx = F.expr(f"shiftright({x0}, z)") / tilesize
    hi_tx = F.expr(f"shiftright({x1 - 1}, z)") / tilesize
    lo_ty = F.expr(f"shiftright({y0}, z)") / tilesize
    hi_ty = F.expr(f"shiftright({y1 - 1}, z)") / tilesize
    return tiles.where(
        (F.col("tx") >= F.floor(lo_tx))
        & (F.col("tx") <= F.floor(hi_tx))
        & (F.col("ty") >= F.floor(lo_ty))
        & (F.col("ty") <= F.floor(hi_ty))
    )


# ---------------------------------------------------------------------------
# P1/P2/P4 + J1: elementwise maps and zip-joins over whole pyramids
# ---------------------------------------------------------------------------

#: named elementwise kernels (deterministic, picklable — the "bring your own
#: function" surface of the reference's broadcast, src/broadcast.jl:34-52)
UNARY_OPS = {
    "abs": np.abs,
    "neg": np.negative,
    "sqrt": np.sqrt,
    "log2": lambda a: np.log2(a, out=np.full_like(a, np.nan, dtype=np.float64), where=a > 0),
}
BINARY_OPS = {
    "add": np.add,
    "sub": np.subtract,
    "mul": np.multiply,
    "lt": lambda a, b: (a < b).astype(np.uint8),
    "gt": lambda a, b: (a > b).astype(np.uint8),
}


def map_tiles(tiles: DataFrame, op: str, scalar: float | None = None) -> DataFrame:
    """Apply a named elementwise op to every tile of every level at once
    (embarrassingly parallel — one narrow mapInPandas, no shuffle).

    ``scalar`` turns a binary op into `tile <op> scalar` (e.g. threshold
    queries ``pyramid .< v``, docs/plotting_example.jl:16-18), and
    ``replacenan``-style masking composes from (lt/gt, mul).
    """
    if op in UNARY_OPS:
        fn = UNARY_OPS[op]
        if scalar is not None:
            raise ValueError(f"unary op {op!r} takes no scalar")
    elif op in BINARY_OPS:
        if scalar is None:
            raise ValueError(f"binary op {op!r} over one pyramid needs a scalar")
        base_fn = BINARY_OPS[op]
        s = float(scalar)
        fn = lambda a: base_fn(a, s)  # noqa: E731
    else:
        raise KeyError(f"unknown op {op!r}; unary={sorted(UNARY_OPS)} binary={sorted(BINARY_OPS)}")

    return _map_tiles_with(tiles, fn)


def _retile(df: DataFrame, tile_fn) -> DataFrame:
    """Shared re-encode stage of the tile maps: each record ``r`` becomes
    the tile row carrying ``tile_fn(r)`` (new bytes, dtype, band count and
    ``build._tile_stats``; other TILE_SCHEMA columns pass through). One
    narrow mapInPandas, no shuffle; every level at once."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                out = tile_fn(r)
                vmin, vmax, vmean = _tile_stats(out)
                rows.append({
                    **r,
                    "bytes": encode_tile(out),
                    "c": out.shape[2] if out.ndim == 3 else r["c"],
                    "dtype": str(out.dtype.name),
                    "vmin": vmin,
                    "vmax": vmax,
                    "vmean": vmean,
                })
            if rows:
                yield _rows_to_pdf(rows)

    return df.mapInPandas(gen, TILE_SCHEMA)


def _decode(r: dict, suffix: str = "") -> np.ndarray:
    """Decode record ``r``'s tile, or its zip partner's with ``suffix="_b"``."""
    return decode_tile(r["bytes" + suffix], r["h"], r["w"], r["dtype" + suffix], r["c" + suffix])


def _zip_join(a: DataFrame, b: DataFrame) -> DataFrame:
    """``a`` joined 1:1 with ``b`` on (z, tx, ty); ``b``'s pixels ride as
    ``bytes_b``/``dtype_b``/``c_b``. Catalyst picks sort-merge or broadcast
    (small upper levels broadcast automatically under AQE)."""
    check_level_compat(a, b)
    rb = b.select(
        F.col("z").alias("z2"),
        F.col("tx").alias("tx2"),
        F.col("ty").alias("ty2"),
        F.col("bytes").alias("bytes_b"),
        F.col("dtype").alias("dtype_b"),
        F.col("c").alias("c_b"),
    )
    return a.join(
        rb,
        (F.col("z") == F.col("z2")) & (F.col("tx") == F.col("tx2")) & (F.col("ty") == F.col("ty2")),
        "inner",
    ).drop("z2", "tx2", "ty2")


def _map_tiles_with(tiles: DataFrame, fn) -> DataFrame:
    """Shared elementwise-map stage: decode -> fn(array) -> re-encode."""
    return _retile(tiles, lambda r: fn(_decode(r)))


def reclassify(
    tiles: DataFrame,
    bins: list[tuple[float, float, float]],
    default: float = np.nan,
    dtype: str = "float64",
) -> DataFrame:
    """Reclassify pixel values through half-open ``[lo, hi) -> out`` bins
    (the GDAL ``gdal_calc``/QGIS reclass / ESA land-cover class-remap
    shape — the reference's ESALCMode reducer exists precisely to
    downsample such class rasters, src/PyramidScheme.jl:302-318). Values
    matching no bin — including NaN nodata — become ``default`` (NaN by
    default, preserving nodata semantics through the remap).

    Bins must be non-overlapping; later bins win is therefore never
    observable, and the remap is order-independent (validated here).
    Same plan shape as ``map_tiles``: one narrow mapInPandas, no shuffle,
    stats refreshed per tile so downstream stats-based tile skipping
    (F4) keeps working on the reclassified raster.
    """
    parsed = [(float(lo), float(hi), float(out)) for lo, hi, out in bins]
    for lo, hi, _ in parsed:
        if not lo < hi:
            raise ValueError(f"empty bin [{lo}, {hi})")
    for i, (lo, hi, _) in enumerate(parsed):
        for lo2, hi2, _ in parsed[i + 1 :]:
            if lo < hi2 and lo2 < hi:
                raise ValueError(f"bins overlap: [{lo},{hi}) and [{lo2},{hi2})")
    np_dtype = np.dtype(dtype)
    if np_dtype.kind in "iu" and (np.isnan(default) if isinstance(default, float) else False):
        raise ValueError(f"integer dtype {dtype} cannot hold NaN default")

    def remap(a: np.ndarray) -> np.ndarray:
        af = a.astype(np.float64, copy=False)
        out = np.full(af.shape, default, dtype=np.float64)
        for lo, hi, val in parsed:
            out[(af >= lo) & (af < hi)] = val
        return out.astype(np_dtype, copy=False)

    return _map_tiles_with(tiles, remap)


#: stats predicate per threshold op: which tiles CAN contain a hit.
#: Conservative by construction (vmin/vmax bound every pixel, build.py).
#: NaN-only tiles store NaN stats (np.nanmin of all-NaN, _tile_row), and
#: Spark orders NaN LARGER than any double (ANSI NaN semantics, unlike
#: SQL NULL): 'gt' therefore KEEPS such tiles (vmax=NaN > s is true in
#: Spark's ordering) and 'lt' prunes them (vmin=NaN < s is false). Both
#: outcomes are conservative-correct here because the exact elementwise
#: mask downstream is all-zero for NaN pixels — but any NEW op added to
#: this table (e.g. 'eq', 'ge' with nullable stats) must re-derive its
#: NaN behavior from Spark's NaN-is-largest rule, not from NULL
#: comparison rules (ADVICE r4: the old comment claimed NULL semantics).
_STATS_PRUNE = {
    "gt": lambda s: F.col("vmax") > s,
    "lt": lambda s: F.col("vmin") < s,
}


def prune_tiles_by_stats(tiles: DataFrame, op: str, scalar: float) -> DataFrame:
    """Skip tiles that cannot satisfy a threshold query, WITHOUT decoding.

    The per-tile ``vmin``/``vmax`` stats columns (written by the build,
    operators/build.py) are plain parquet columns, so this predicate is
    pushed into the scan (``PushedFilters``) and row-group min/max stats
    skip whole chunks of the level — the F4 threshold query never reads
    the pixel bytes of a tile it can prove empty. Compose with
    ``map_tiles(op, scalar)`` for the exact elementwise mask over the
    surviving candidates; pruned tiles are guaranteed all-zero masks.
    """
    if op not in _STATS_PRUNE:
        raise KeyError(f"no stats prune for op {op!r}; have {sorted(_STATS_PRUNE)}")
    return tiles.where(_STATS_PRUNE[op](float(scalar)))


def _max_levels(a: DataFrame, b: DataFrame) -> tuple[int, int]:
    """Both sides' max(z) in ONE Spark job (two tiny aggregates unioned)."""
    rows = a.agg(F.max("z")).unionAll(b.agg(F.max("z"))).collect()
    return rows[0][0], rows[1][0]


def check_level_compat(a: DataFrame, b: DataFrame) -> int:
    """Broadcast level-compat check (reference ``checklevelcompat``,
    src/broadcast.jl:59-67): equal level counts or raise."""
    na, nb = _max_levels(a, b)
    if na != nb:
        raise ValueError(
            f"pyramids have different level counts ({na} vs {nb}); "
            "convert your input to a matching pyramid first"
        )
    return int(na)


def zip_tiles(a: DataFrame, b: DataFrame, op: str) -> DataFrame:
    """Binary broadcast `A .op B` (reference src/broadcast.jl:34-52):
    equi-join on (z, tx, ty) + vectorized kernel on the decoded pair.

    The join is 1:1 on the tile key; Catalyst picks sort-merge or broadcast
    (small upper levels broadcast automatically under AQE).
    """
    if op not in BINARY_OPS:
        raise KeyError(f"unknown binary op {op!r}")
    fn = BINARY_OPS[op]
    return _retile(_zip_join(a, b), lambda r: fn(_decode(r), _decode(r, "_b")))


# ---------------------------------------------------------------------------
# C1/C2: concatenation and structural equality
# ---------------------------------------------------------------------------


def pyramids_equal(a: DataFrame, b: DataFrame, rtol: float = 0.0) -> bool:
    """C2 ``isequal`` (reference src/PyramidScheme.jl:92-100): equal level
    counts, every level's tiles equal. Distributed: full outer join on the
    tile key; any unmatched row or byte mismatch -> unequal.

    ``rtol > 0`` decodes and compares allclose (the PSNR>=40dB hook for
    future lossy codecs); default is exact byte equality (fmt='raw').
    """
    na, nb = _max_levels(a, b)
    if na != nb:
        return False
    kb = b.select(
        F.col("z").alias("z2"),
        F.col("tx").alias("tx2"),
        F.col("ty").alias("ty2"),
        F.col("bytes").alias("bytes_b"),
        F.col("dtype").alias("dtype_b"),
        F.col("w").alias("w2"),
        F.col("h").alias("h2"),
        F.col("c").alias("c2"),
    )
    j = a.join(
        kb,
        (F.col("z") == F.col("z2")) & (F.col("tx") == F.col("tx2")) & (F.col("ty") == F.col("ty2")),
        "full_outer",
    )
    if rtol == 0.0:
        bad = j.where(
            F.col("bytes").isNull()
            | F.col("bytes_b").isNull()
            | (F.col("bytes") != F.col("bytes_b"))
        ).limit(1)
        return bad.count() == 0
    # allclose path: decode pairs in a UDF, count mismatching tiles
    import pyspark.sql.types as T

    def close(batches):
        for pdf in batches:
            bad = 0
            for r in pdf.to_dict("records"):
                if r["bytes"] is None or r["bytes_b"] is None:
                    bad += 1
                    continue
                x = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
                y = decode_tile(r["bytes_b"], r["h2"], r["w2"], r["dtype_b"], r["c2"])
                if x.shape != y.shape or not np.allclose(
                    x.astype(np.float64), y.astype(np.float64), rtol=rtol, equal_nan=True
                ):
                    bad += 1
            yield pd.DataFrame({"bad": [bad]})

    tot = j.mapInPandas(close, T.StructType([T.StructField("bad", T.LongType())]))
    return tot.agg(F.sum("bad")).collect()[0][0] == 0


def cat_tiles(items: list[tuple[DataFrame, PyramidSpec]], axis: str = "x") -> DataFrame:
    """C1 n-ary ``cat`` along X or Y (reference ``Base.cat(A1, As...; dims)``,
    src/PyramidScheme.jl:528-534; 3-pyramid test, test/runtests.jl:130-143).

    Union of the tile tables with each pyramid's tx (or ty) shifted by the
    cumulative predecessor tile count per level — a pure metadata rewrite,
    zero shuffle, zero pixel work (the 100 TB-friendly property of keying
    tiles relationally instead of storing one big array). Every pyramid
    except the last must be tile-aligned along the cat axis at all levels
    (checked) so the grids line up.
    """
    if axis not in ("x", "y"):
        raise ValueError(f"axis must be 'x' or 'y', got {axis!r}")
    if not items:
        raise ValueError("cat_tiles needs at least one pyramid")
    n0, t0 = items[0][1].nlevels, items[0][1].tilesize
    for i, (_, sp) in enumerate(items[1:], start=1):
        if sp.nlevels != n0 or sp.tilesize != t0:
            raise ValueError(
                f"cat_{axis}: pyramid {i} has nlevels={sp.nlevels}/tilesize="
                f"{sp.tilesize}, pyramid 0 has {n0}/{t0} — cat requires matching "
                "level structure (reference checklevelcompat semantics)"
            )
    tcol, locol, hicol = ("tx", "xmin", "xmax") if axis == "x" else ("ty", "ymin", "ymax")
    out = None
    cum = 0  # cumulative base extent (px) of predecessors along the axis
    for i, (df, spec) in enumerate(items):
        T_ = spec.tilesize
        dim = spec.base_w if axis == "x" else spec.base_h
        if i < len(items) - 1:
            for z in range(spec.nlevels + 1):
                lw = -(-dim // (1 << z))
                if lw % T_ != 0:
                    raise ValueError(
                        f"cat_{axis}: pyramid {i} level {z} extent {lw} not tile-aligned"
                    )
        if cum:
            shift = F.expr(f"shiftright(cast({cum // T_} as int), z)")
            df = (
                df.withColumn(tcol, (F.col(tcol) + shift).cast("int"))
                .withColumn(locol, F.col(locol) + cum)
                .withColumn(hicol, F.col(hicol) + cum)
            )
        out = df if out is None else out.unionByName(df)
        cum += dim
    return out


def cat_tiles_x(a: DataFrame, b: DataFrame, a_spec: PyramidSpec, b_spec: PyramidSpec | None = None) -> DataFrame:
    """Binary cat-along-X (back-compat wrapper over ``cat_tiles``)."""
    return cat_tiles([(a, a_spec), (b, b_spec or a_spec)], axis="x")


def cat_bands(dfs: list[DataFrame]) -> DataFrame:
    """C1 n-ary ``cat`` along a *new* dim (reference cats 3 pyramids onto
    ``Dim{:new}``, test/runtests.jl:130-143): stack N pyramids' tiles into
    the channel axis.

    ONE shuffle + ONE Python stage regardless of N: union the inputs with a
    source ordinal, group by tile key, concatenate in ordinal order inside
    a single applyInPandas (folding binary zip-joins would chain N-1 Python
    stages per task — measured 10x slower on this host)."""
    if len(dfs) < 2:
        raise ValueError("cat_bands needs >= 2 pyramids")
    n = len(dfs)
    first = dfs[0]
    for other in dfs[1:]:
        check_level_compat(first, other)
    tagged = None
    for i, df in enumerate(dfs):
        t = df.withColumn("_src", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_src")
        if len(pdf) != n:
            raise ValueError(
                f"tile (z={key[0]}, tx={key[1]}, ty={key[2]}) present in "
                f"{len(pdf)}/{n} pyramids — cat along a new dim needs equal grids"
            )
        parts = []
        for r in pdf.to_dict("records"):
            x = decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"])
            parts.append(x[:, :, None] if x.ndim == 2 else x)
        # promote like Base.cat: float mean levels stacked onto a uint8
        # base must widen, not wrap/truncate (ADVICE r2)
        out_dtype = np.result_type(*[p.dtype for p in parts])
        out = np.concatenate([p.astype(out_dtype, copy=False) for p in parts], axis=2)
        r0 = pdf.iloc[0].to_dict()
        d = {k: r0[k] for k in (f.name for f in TILE_SCHEMA.fields)}
        af = out.astype(np.float64, copy=False)
        d.update(
            bytes=encode_tile(out),
            c=out.shape[2],
            dtype=str(out.dtype.name),
            vmin=float(np.nanmin(af)),
            vmax=float(np.nanmax(af)),
            vmean=float(np.nanmean(af)),
        )
        return _rows_to_pdf([d])

    return tagged.groupBy("z", "tx", "ty").applyInPandas(merge, TILE_SCHEMA)


def stack_bands(a: DataFrame, b: DataFrame) -> DataFrame:
    """C1 ``cat`` along a *new* dim: zip-join on the tile key, dstack the
    decoded blocks into the channel axis (bands pass through aggregation
    untouched, reference test/runtests.jl:145-166)."""

    def stack(r: dict) -> np.ndarray:
        x, y = _decode(r), _decode(r, "_b")
        if x.ndim == 2:
            x = x[:, :, None]
        if y.ndim == 2:
            y = y[:, :, None]
        out_dtype = np.result_type(x.dtype, y.dtype)  # promote, don't wrap
        return np.concatenate(
            [x.astype(out_dtype, copy=False), y.astype(out_dtype, copy=False)], axis=2
        )

    return _retile(_zip_join(a, b), stack)
