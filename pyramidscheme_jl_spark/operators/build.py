"""Pyramid build — fused level blocks over one tile-mosaic kernel
(SURVEY.md §2.3 A1-A11, §3.1).

The reference's flagship entry points (``buildpyramids`` / ``Pyramid(data)``,
src/PyramidScheme.jl:347-392,428-445) become a driver loop
(``_build_levels``) of one DataFrame job per block of k levels:

    level z-1 tiles (or the images table, decoded in the same stage)
      --mapInPandas--> 2x2-reduced *quarter* tiles keyed by their
                       level-(z+k-1) ancestor (narrow, no shuffle)
      --groupBy(ancestor).applyInPandas--> one mosaic per group, cut into
                       level-z tiles, then reduced and cut for z+1..z+k-1
      --write parquet partitions z..z+k-1 + manifest lineage rows (checkpoint)

Every pyramid writer shares one kernel, as the reference builds every
level with one windowed kernel (src/PyramidScheme.jl:216-253).
``_mosaic`` places ``(y0, x0, array)`` pieces into a plane (gaps NaN for
float dtypes) for the fused blocks, ``build_overviews``, the direct
build, the driver-side tail, cube levels (``operators/cube.py``),
streaming ancestor repair (``streaming/ingest.py``) and the driver reads
(``operators/read.py``); ``_cut`` slices a plane into tile rows;
``_quarter_gen`` is the one quarter emitter (source: stored tiles or
image payloads; optional lead keys such as the cube ``t``).

Scale notes (why this shape at 100 TB):

- **Downsample before shuffling**: the heavy pixel math happens map-side on
  the child tiles, so only quarter-size blocks (1/4 of the level's bytes)
  cross the wire, and the k-1 coarser levels of a block add no shuffle at
  all. Total shuffle across the build is at most ~1/3 of the base bytes.
- **Recursive by default** (level z from z-1): total pixel work is
  O(4/3 * N) like the reference's ``recursive=true``
  (src/PyramidScheme.jl:192-203); ``recursive=False`` rebuilds each level
  straight from the base for non-decomposable reducers (mode/median caveat,
  src/PyramidScheme.jl:192-193).
- **Each level block is read back from its checkpoint** before building
  the next: truncates lineage, makes resume trivial (manifest row ==
  committed level), and the reread is sequential columnar I/O.
- All pixel math is whole-array numpy inside Arrow-batched UDFs; rows are
  tiles, never pixels.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import xy_to_cell
from ..functions.codec import decode_tile, encode_tile
from ..functions.reducers import (
    block_reduce,
    is_decomposable,
    reducer_hash,
    reducer_name,
)
from ..plans.grid import DEFAULT_TILESIZE, compute_nlevels, tile_count, tile_extent
from ..sources.catalog import (
    TILE_SCHEMA,
    append_manifest,
    committed_levels,
    manifest_lineage,
    read_level,
    read_tiles_local,
    write_level,
    write_level_driver,
    write_levels_fused,
    write_multiscales,
)

QUARTER_SCHEMA = T.StructType(
    [
        T.StructField("ptx", T.IntegerType()),
        T.StructField("pty", T.IntegerType()),
        T.StructField("qx", T.IntegerType()),
        T.StructField("qy", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
    ]
)


@dataclass(frozen=True)
class PyramidSpec:
    """Driver-side plan constants for one pyramid (all closed-form).

    ``nlevels_cap`` limits the advertised level count for pyramids that
    physically carry fewer overviews than the geometry plans (prebuilt
    imports whose source stopped early — ``from_prebuilt_levels`` records
    the real extent in ``_multiscales.json`` and ``open()`` passes it
    here). The cell index (``res0``/``world``) stays a function of the
    GEOMETRY alone so cell ids are identical however many levels exist."""

    base_w: int
    base_h: int
    tilesize: int = 256
    nlevels_cap: int | None = None

    @property
    def nlevels(self) -> int:
        n = compute_nlevels((self.base_w, self.base_h), self.tilesize)
        return min(n, self.nlevels_cap) if self.nlevels_cap is not None else n

    @property
    def res0(self) -> int:
        """Cell resolution of base tiles: tile grid == cell grid at z=0."""
        n_geom = compute_nlevels((self.base_w, self.base_h), self.tilesize)
        nx, ny = tile_count((self.base_w, self.base_h), 0, self.tilesize)
        return max(n_geom, math.ceil(math.log2(max(nx, ny))) if max(nx, ny) > 1 else 0)

    @property
    def world(self) -> float:
        """Padded power-of-two world extent (px) shared by the cell index."""
        return float(self.tilesize << self.res0)

    def cell_res(self, z: int) -> int:
        return max(0, self.res0 - z)


def _tile_stats(a: np.ndarray) -> tuple[float, float, float]:
    af = a.astype(np.float64, copy=False)
    if np.isnan(af).any():
        return (float(np.nanmin(af)), float(np.nanmax(af)), float(np.nanmean(af)))
    return (float(af.min()), float(af.max()), float(af.mean()))


def _tile_row(spec: PyramidSpec, z: int, tx: int, ty: int, arr: np.ndarray) -> dict:
    vmin, vmax, vmean = _tile_stats(arr)
    xmin, ymin, xmax, ymax = tile_extent((spec.base_w, spec.base_h), z, tx, ty, spec.tilesize)
    c = int(arr.shape[2]) if arr.ndim == 3 else 1
    return {
        "z": z,
        "tx": tx,
        "ty": ty,
        "bytes": encode_tile(arr),
        "w": int(arr.shape[1]),
        "h": int(arr.shape[0]),
        "c": c,
        "dtype": str(arr.dtype.name),
        "vmin": vmin,
        "vmax": vmax,
        "vmean": vmean,
        "cell": int(xy_to_cell(tx, ty, spec.cell_res(z))),
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmax,
        "ymax": ymax,
    }


def _rows_to_pdf(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])
    for col in ("z", "tx", "ty", "w", "h", "c"):
        pdf[col] = pdf[col].astype("int32")
    pdf["cell"] = pdf["cell"].astype("int64")
    return pdf



def _grid_dims(G) -> tuple[int, int]:
    """G as int (square) or (gx, gy) — rectangular mosaics are first-class
    (reference builds non-square bases, e.g. test/runtests.jl:145-166)."""
    if isinstance(G, (tuple, list)):
        return int(G[0]), int(G[1])
    return int(G), int(G)


# Formats the build path decodes for real (functions/media_codecs.py +
# functions/jpeg.py). Rows in other formats (e.g. mp4 stills) are filtered
# out of the pyramid, mirroring the reference's raster-only ingestion.
SUPPORTED_IMAGE_FMTS = ("raw", "pgm", "ppm", "bmp", "png", "jpeg", "jpg")


def _decode_payload(buf, w: int, h: int, fmt: str, image_id: str) -> np.ndarray:
    """Decode one image payload to (h, w[, c]) uint8 via the ONE codec
    registry (``operators.multimodal.decode_image`` — raw payloads infer
    channels from size; bands pass through aggregation untouched, reference
    test/runtests.jl:145-166). For file formats the bytes are the source
    of truth; the metadata columns are cross-checked (input_hint:
    decoded-pixel invariants are per-row) and a mismatch is a data-quality
    error naming the row."""
    from .multimodal import decode_image

    arr = decode_image(bytes(buf), int(w), int(h), fmt)
    if fmt != "raw" and (arr.shape[0] != int(h) or arr.shape[1] != int(w)):
        # EXIF orientations 5-8 transpose the stored SOF dims during
        # uprighting; metadata recording the stored dims is still valid.
        transposed_ok = (
            fmt in ("jpeg", "jpg")
            and arr.shape[0] == int(w)
            and arr.shape[1] == int(h)
            and _jpeg_is_transposing(bytes(buf))
        )
        if not transposed_ok:
            raise ValueError(
                f"{image_id}: decoded {fmt} shape {arr.shape[:2]} contradicts "
                f"metadata (h={h}, w={w})"
            )
    return arr


def _jpeg_is_transposing(buf: bytes) -> bool:
    from ..functions.jpeg import jpeg_orientation

    return jpeg_orientation(buf) >= 5


def audit_unsupported_images(
    images: DataFrame, strict: bool = False, context: str = "build"
) -> int:
    """Count input rows the base decode stage will DROP (unsupported
    ``fmt`` or an ``image_id`` that doesn't yield a grid slot) — VERDICT
    r4 #3: silent row loss at pipeline scale is an audit hazard. One
    column-pruned pass (fmt + image_id only, no pixel bytes); logs a
    warning when nonzero, raises instead under ``strict``."""
    idx = F.regexp_extract("image_id", r"^img-(\d{8})$", 1).cast("long")
    kept = F.col("fmt").isin(*SUPPORTED_IMAGE_FMTS) & idx.isNotNull()
    row = images.agg(
        F.count("*").alias("total"),
        F.count(F.when(kept, True)).alias("kept"),
    ).collect()[0]
    dropped = int(row["total"]) - int(row["kept"])
    if dropped:
        msg = (
            f"{context}: dropping {dropped}/{row['total']} input rows with "
            f"unsupported fmt or unparseable image_id (supported: "
            f"{sorted(SUPPORTED_IMAGE_FMTS)})"
        )
        if strict:
            raise ValueError(msg)
        import logging

        logging.getLogger("pyramidscheme_jl_spark").warning(msg)
    return dropped


def base_image_src(images: DataFrame, G: int) -> DataFrame:
    """JVM-side projection feeding the base decode stage: grid slot derived
    from ``image_id`` (``img-{i:08d}``, FIXTURES.md §1), unsupported
    formats filtered."""
    idx = F.regexp_extract("image_id", r"^img-(\d{8})$", 1).cast("long")
    return (
        images.where(F.col("fmt").isin(*SUPPORTED_IMAGE_FMTS))
        .where(idx.isNotNull())
        .select(
            (idx % _grid_dims(G)[0]).cast("int").alias("tx"),
            (idx / _grid_dims(G)[0]).cast("int").alias("ty"),
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
        )
        .where(F.col("tx").isNotNull())
    )


def base_tile_gen(spec: PyramidSpec):
    """The decode+stats pandas transform over ``base_image_src`` batches —
    exposed separately so the streaming path can FUSE its tile write into
    the same python worker (two chained mapInPandas stages run two python
    workers per task with a JVM Arrow relay between them — measured trap,
    see session.py notes)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for tx, ty, iid, buf, w, h, fmt in zip(
                pdf["tx"], pdf["ty"], pdf["image_id"], pdf["bytes"],
                pdf["w"], pdf["h"], pdf["fmt"],
            ):
                arr = _decode_payload(buf, w, h, fmt, iid)
                rows.append(_tile_row(spec, 0, int(tx), int(ty), arr))
            if rows:
                yield _rows_to_pdf(rows)

    return gen


def base_tiles_from_images(images: DataFrame, G: int, spec: PyramidSpec) -> DataFrame:
    """images (input_hint schema) -> level-0 tile rows.

    Grid slot is derived from ``image_id`` (``img-{i:08d}``, FIXTURES.md §1)
    JVM-side; decoding (any SUPPORTED_IMAGE_FMTS payload — raw, netpbm,
    bmp, png, jpeg) + per-tile stats run in one narrow mapInPandas pass.
    """
    return base_image_src(images, G).mapInPandas(base_tile_gen(spec), TILE_SCHEMA)


def _cast_level(arr: np.ndarray, level_dtype: str | None) -> np.ndarray:
    """Optional storage-dtype narrowing for levels (the float32 scale lever:
    mean levels at float64 are an 8x byte inflation over uint8 bases — the
    measured disk-bound scaling limiter; float32 halves every shuffle and
    checkpoint byte downstream at ~1e-7 relative error)."""
    if level_dtype is None:
        return arr
    return arr.astype(np.dtype(level_dtype), copy=False)


def _mosaic(pieces, shape: tuple[int, int] | None = None) -> np.ndarray:
    """THE tile-mosaic kernel: ``(y0, x0, array)`` pieces -> one plane of
    ``shape`` (default: to the furthest pixel any piece covers; ragged
    edges keep ceil semantics). Uncovered area — a SPARSE base: rasterized/partial
    mosaics, a missing image or tile — is missing data: NaN for float dtypes so
    skipmissing reducers and tile stats stay correct; int dtypes have no
    missing representation and keep 0. Dense builds never hit either case."""
    pieces = list(pieces)
    a0 = pieces[0][2]
    H, W = shape or (max(y0 + a.shape[0] for y0, _, a in pieces),
                     max(x0 + a.shape[1] for _, x0, a in pieces))
    fill = np.nan if a0.dtype.kind == "f" else 0
    plane = np.full((H, W) + a0.shape[2:], fill, dtype=a0.dtype)
    for y0, x0, a in pieces:
        plane[y0 : y0 + a.shape[0], x0 : x0 + a.shape[1]] = a
    return plane


def _cut(spec: PyramidSpec, plane: np.ndarray, z: int, tx0: int = 0, ty0: int = 0,
         keep=None) -> list[dict]:
    """Plane -> level-``z`` tile rows: plane tile ``(i, j)`` becomes tile
    ``(tx0 + i, ty0 + j)``, edge tiles clipped to the plane. ``keep``
    (optional set of plane-relative ``(i, j)``) skips tiles with no data
    below them, so a sparse base yields the same tile set however many
    levels one pass derives."""
    T_ = spec.tilesize
    return [
        _tile_row(spec, z, tx0 + i, ty0 + j, plane[j * T_ : (j + 1) * T_, i * T_ : (i + 1) * T_])
        for j in range(-(-plane.shape[0] // T_))
        for i in range(-(-plane.shape[1] // T_))
        if keep is None or (i, j) in keep
    ]


def _lead_schema(lead: tuple, schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField(c, T.IntegerType()) for c in lead] + list(schema.fields))


def _quarter_gen(k: int, reducer, level_dtype: str | None, from_images: bool, lead: tuple):
    """THE quarter emitter (narrow stage of every recursive level block):
    each source row -> its 2x2-reduced quarter, keyed by its level-``+k``
    ancestor ``(tx >> k, ty >> k)`` with its offset ``(qx, qy)`` inside
    that ancestor in child-tile units. ``from_images`` decodes image
    payloads (``base_image_src`` rows) instead of stored tiles, in this
    same python stage: chaining two mapInPandas stages (decode -> reduce)
    runs two python workers per task with the JVM relaying Arrow batches
    between them — measured 10x slower at 32 cores — and keeping one
    python stage before the shuffle is also the right cluster shape (the
    base is read once, reduced map-side, and only quarter tiles shuffle).
    ``lead`` key columns (cubes: ``("t",)``) pass through untouched."""
    if from_images:
        decode, args = _decode_payload, ("bytes", "w", "h", "fmt", "image_id")
    else:
        decode, args = decode_tile, ("bytes", "h", "w", "dtype", "c")
    cols = (*lead, *QUARTER_SCHEMA.fieldNames())
    int_cols = [c for c in cols if c not in ("bytes", "dtype")]
    n, mask = len(lead), (1 << k) - 1

    def gen(batches):
        for pdf in batches:
            out = {c: [] for c in cols}
            for row in zip(*(pdf[c] for c in (*lead, "tx", "ty", *args))):
                red = _cast_level(block_reduce(decode(*row[n + 2 :]), reducer), level_dtype)
                tx, ty = int(row[n]), int(row[n + 1])
                for c, v in zip(lead, row):
                    out[c].append(int(v))
                out["ptx"].append(tx >> k)
                out["pty"].append(ty >> k)
                out["qx"].append(tx & mask)
                out["qy"].append(ty & mask)
                out["bytes"].append(encode_tile(red))
                out["w"].append(red.shape[1])
                out["h"].append(red.shape[0])
                out["c"].append(red.shape[2] if red.ndim == 3 else 1)
                out["dtype"].append(str(red.dtype.name))
            pdf_out = pd.DataFrame(out)
            pdf_out[int_cols] = pdf_out[int_cols].astype("int32")
            yield pdf_out

    return gen


def _level_block(
    src: DataFrame, from_images: bool, z_start: int, k: int, spec: PyramidSpec, reducer,
    level_dtype: str | None, lead: tuple = (),
) -> DataFrame:
    """Levels ``z_start .. z_start+k-1`` from level ``z_start-1`` (or the
    images) in ONE shuffle (reference A4 windowed execution, VERDICT r8 #2):
    ``_quarter_gen`` keys each child by its level-``z_start+k-1`` ancestor;
    one group = that ancestor's footprint, holding up to ``4^k`` quarters.
    The group mosaics the level-``z_start`` plane once and derives all
    ``k`` levels from it in memory — bit-identical to ``k`` single-level
    passes because the reduction chain is the same ``block_reduce`` +
    ``_cast_level`` at every level boundary (tiles are even-sized, so
    reducing the group plane equals reducing each tile; clipped ragged
    edges keep ceil semantics). A tile is emitted only where a child
    quarter lies below it, so a sparse base gets the per-level tile set;
    above a missing tile the plane holds the reducer's output for an
    all-NaN block (NaN, or 0 for ``sum``) where a single-level pass holds
    the mosaic's NaN fill. Shuffle volume is that of level ``z_start``
    alone: the k-1 further levels ride for free."""
    half = spec.tilesize // 2
    n = len(lead)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty = int(key[n]), int(key[n + 1])
        dt, c = pdf["dtype"].iloc[0], int(pdf["c"].iloc[0])
        qxy = [(int(qx), int(qy)) for qx, qy in zip(pdf["qx"], pdf["qy"])]
        plane = _mosaic(
            (qy * half, qx * half, decode_tile(buf, h, w, dt, c))
            for (qx, qy), buf, w, h in zip(qxy, pdf["bytes"], pdf["w"], pdf["h"])
        )
        rows = []
        for j in range(k):
            span = 1 << (k - 1 - j)  # group tiles per axis at this level
            keep = {(qx >> (j + 1), qy >> (j + 1)) for qx, qy in qxy}
            rows += _cut(spec, plane, z_start + j, ptx * span, pty * span, keep)
            if j < k - 1:
                plane = _cast_level(block_reduce(plane, reducer), level_dtype)
        pdf_out = _rows_to_pdf(rows)
        for i, col in enumerate(lead):
            pdf_out.insert(i, col, pd.array([int(key[i])] * len(rows), dtype="int32"))
        return pdf_out

    quarters = src.mapInPandas(
        _quarter_gen(k, reducer, level_dtype, from_images, lead), _lead_schema(lead, QUARTER_SCHEMA)
    )
    return quarters.groupBy(*lead, "ptx", "pty").applyInPandas(
        assemble, _lead_schema(lead, TILE_SCHEMA)
    )


def build_levels_fused(
    prev: DataFrame, z_start: int, k: int, spec: PyramidSpec, reducer,
    level_dtype: str | None = None,
) -> DataFrame:
    """Levels ``z_start .. z_start+k-1`` from stored level ``z_start-1``
    in one shuffle (``_level_block``); ``k=1`` is the plain per-level step."""
    return _level_block(prev, False, z_start, k, spec, reducer, level_dtype)


def build_levels1_fused_from_images(
    images: DataFrame, G, k: int, spec: PyramidSpec, reducer,
    level_dtype: str | None = None,
) -> DataFrame:
    """Levels ``1..k`` straight from the images table in one shuffle:
    decode + first 2x2 reduce run in the quarter stage's single python
    worker (``_quarter_gen``), so the base is never materialized."""
    return _level_block(base_image_src(images, G), True, 1, k, spec, reducer, level_dtype)


def build_tail_driver(
    prev_rows: list, z_start: int, spec: PyramidSpec, reducer, level_dtype: str | None = None
) -> dict[int, list[dict]]:
    """Tail fusion: finish the (tiny) top levels driver-side in pure numpy.

    Once a level fits in a handful of tiles, the remaining log4 levels are
    kilobytes — any distributed stage is pure fixed overhead (the reference
    runs its whole build in one windowed kernel for the same reason,
    src/PyramidScheme.jl:216-253). One ``read_tiles_local`` of the <=threshold
    tiles, numpy reduce chain, direct parquet writes. Returns {z: tile_rows}.
    """
    T_ = spec.tilesize
    plane = _mosaic(
        (r["ty"] * T_, r["tx"] * T_, decode_tile(r["bytes"], r["h"], r["w"], r["dtype"], r["c"]))
        for r in prev_rows
    )
    out: dict[int, list[dict]] = {}
    for z in range(z_start, spec.nlevels + 1):
        plane = _cast_level(block_reduce(plane, reducer), level_dtype)
        out[z] = _cut(spec, plane, z)
    return out


def build_level_direct(
    base: DataFrame, z: int, spec: PyramidSpec, reducer, level_dtype: str | None = None
) -> DataFrame:
    """Direct (non-recursive) build: level z straight from the base.

    Groups the up-to-``4^z`` base tiles under each level-z tile and reduces
    the assembled block by ``2^z`` in one shot — required for reducers where
    reduce-of-reduce != reduce (mode; reference median caveat :192-193).
    Costlier at scale (O(levels*N) total) — that trade is the reference's own.
    """
    fac = 1 << z
    T_ = spec.tilesize

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty = int(key[0]), int(key[1])
        dt, c = pdf["dtype"].iloc[0], int(pdf["c"].iloc[0])
        x0, y0 = ptx * T_ * fac, pty * T_ * fac  # base-pixel origin
        plane = _mosaic(
            (int(ty) * T_ - y0, int(tx) * T_ - x0, decode_tile(buf, h, w, dt, c))
            for tx, ty, buf, w, h in zip(pdf["tx"], pdf["ty"], pdf["bytes"], pdf["w"], pdf["h"])
        )
        red = _cast_level(block_reduce(plane, reducer, fac=fac), level_dtype)
        return _rows_to_pdf(_cut(spec, red, z, ptx, pty))

    grouped = base.withColumn("ptx", F.shiftright("tx", z)).withColumn(
        "pty", F.shiftright("ty", z)
    )
    return grouped.groupBy("ptx", "pty").applyInPandas(assemble, TILE_SCHEMA)


def _build_levels(
    spark: SparkSession, path: str, spec: PyramidSpec, reducer, level_dtype: str | None,
    run_id: str, rname: str, rhash: str, done: set, ordinal: int, recursive: bool = True,
    fuse_threshold: int = 64, fused_levels: int = 3, images: DataFrame | None = None,
    G=None, verbose: bool = False,
) -> None:
    """THE level loop of ``build_pyramid`` and ``build_overviews``: levels
    1..n over level 0, which is the stored base — or, with ``images``, the
    images table decoded inside the first block's quarter stage. One
    checkpointed Spark job per fused level block: the block size adapts
    down when the group count would drop below the session parallelism
    (scale-adaptive, not a constant), and to whatever ``done`` (resume)
    still needs. Each block reads its input back from the previous
    block's checkpoint — sequential columnar I/O that measured faster
    end-to-end than DataFrame persist() on fat binary tile rows
    (BENCH/BASELINE.md). Once a level fits ``fuse_threshold`` tiles the
    tip is finished driver-side. Commit protocol: parquet first, then
    manifest lineage rows — a level is committed iff its rows exist."""
    import time

    par = max(1, spark.sparkContext.defaultParallelism)

    def commit(df: DataFrame, z: int, k: int) -> None:
        nonlocal ordinal
        t0 = time.perf_counter()
        if k == 1:
            write_level(df, path, z)
        else:
            write_levels_fused(df, path)
        for zz in range(z, z + k):
            append_manifest(spark, path, manifest_lineage(path, zz, run_id, rname, rhash, ordinal))
            ordinal += 1
        if verbose:
            print(f"[build] levels {z}..{z + k - 1} committed in "
                  f"{time.perf_counter() - t0:.2f}s", flush=True)

    z = 1
    while z <= spec.nlevels:
        if z in done:
            ordinal += 1
            z += 1
            continue
        if not recursive:
            base = (
                read_level(spark, path, 0) if images is None
                else base_tiles_from_images(images, G, spec)
            )
            commit(build_level_direct(base, z, spec, reducer, level_dtype), z, 1)
            z += 1
            continue
        ntx, nty = tile_count((spec.base_w, spec.base_h), z - 1, spec.tilesize)
        if z < spec.nlevels and ntx * nty <= fuse_threshold and (z > 1 or images is None):
            # tail fusion: read the tiny level driver-side, finish there
            prev_rows = read_tiles_local(path, z - 1).to_dict("records")
            t0 = time.perf_counter()
            tail = build_tail_driver(prev_rows, z, spec, reducer, level_dtype)
            for zz in range(z, spec.nlevels + 1):
                if zz not in done:
                    write_level_driver(tail[zz], path, zz)
                    append_manifest(
                        spark, path, manifest_lineage(path, zz, run_id, rname, rhash, ordinal)
                    )
                ordinal += 1
            if verbose:
                print(f"[build] tail levels {z}..{spec.nlevels} fused driver-side "
                      f"in {time.perf_counter() - t0:.2f}s", flush=True)
            break
        k = 1
        for kk in range(2, max(1, int(fused_levels)) + 1):
            if z + kk - 1 > spec.nlevels or any((z + j) in done for j in range(kk)):
                break
            if -(-ntx // (1 << kk)) * (-(-nty // (1 << kk))) < par:
                break
            k = kk
        if z == 1 and images is not None:
            built = build_levels1_fused_from_images(images, G, k, spec, reducer, level_dtype)
        else:
            built = build_levels_fused(
                read_level(spark, path, z - 1), z, k, spec, reducer, level_dtype
            )
        commit(built, z, k)
        z += k
    # interchange metadata (reference writes GeoZarr multiscales attrs,
    # src/PyramidScheme.jl:381-388): level discovery + plan constants for
    # foreign readers and scan-free reopen
    write_multiscales(
        path, spec.nlevels, spec.tilesize, spec.base_w, spec.base_h, rname, rhash
    )


def build_overviews(
    spark: SparkSession,
    path: str,
    reducer="mean",
    run_id: str = "overviews-0",
    resume: bool = False,
    level_dtype: str | None = None,
    fuse_threshold: int = 64,
    verbose: bool = False,
    tilesize: int | None = None,
) -> PyramidSpec:
    """Build levels 1..n over an EXISTING stored base level — the
    reference's flagship ``buildpyramids(path)`` shape (open a stored
    array, write only the overviews; src/PyramidScheme.jl:353-390), and
    the step that turns ``rasterize_polygons`` output (or any imported /
    foreign-written base) into a full pyramid.

    Runs ``build_pyramid``'s level loop (``_build_levels``) over the
    stored base: fused level blocks, the same commit protocol (parquet
    level first, then manifest lineage rows — a level is committed iff its
    manifest rows exist), so ``resume=True`` restarts mid-build safely; the
    geometric tip fuses driver-side below ``fuse_threshold`` tiles. Sparse
    bases are first-class: uncovered quarters assemble as NaN (float
    dtypes) and skipmissing reducers do the rest."""
    from ..functions.reducers import REDUCERS
    from ..sources.catalog import read_multiscales

    if not callable(reducer) and reducer not in REDUCERS:
        raise KeyError(f"unknown reducer {reducer!r}; supported: {REDUCERS} or a callable")
    ms = read_multiscales(path)
    if ms is not None and all(k in ms for k in ("base_w", "base_h", "tilesize")):
        ms_ts = int(ms["tilesize"])
        if tilesize is not None and tilesize != ms_ts:
            raise ValueError(
                f"tilesize={tilesize} contradicts the stored multiscales doc ({ms_ts})"
            )
        spec = PyramidSpec(int(ms["base_w"]), int(ms["base_h"]), ms_ts)
    else:  # derive plan constants from the stored base (api.open fallback)
        ts = tilesize if tilesize is not None else DEFAULT_TILESIZE
        base = read_level(spark, path, 0)
        mx = base.agg(
            F.max(F.col("tx") * ts + F.col("w")).alias("w"),
            F.max(F.col("ty") * ts + F.col("h")).alias("h"),
            F.max(F.greatest("w", "h")).alias("maxwh"),
            F.count("*").alias("n"),
        ).collect()[0]
        # any multi-tile level has full-size interior tiles, so the max
        # tile edge IS the tilesize — a mismatch means the assumed default
        # would plan a corrupt pyramid (e.g. a 128px-tile base read as 256)
        if int(mx["n"]) > 1 and int(mx["maxwh"]) != ts:
            raise ValueError(
                f"stored base has {mx['maxwh']}px tiles but tilesize resolves "
                f"to {ts} and no multiscales doc exists; pass tilesize= "
                "explicitly (guessing would plan a corrupt pyramid)"
            )
        spec = PyramidSpec(int(mx["w"]), int(mx["h"]), ts)
    rname = reducer_name(reducer)
    rhash = reducer_hash(reducer if level_dtype is None else f"{rname}@{level_dtype}")
    done = set(committed_levels(spark, path, run_id)) if resume else set()
    _build_levels(
        spark, path, spec, reducer, level_dtype, run_id, rname, rhash, done, 0,
        fuse_threshold=fuse_threshold, verbose=verbose,
    )
    return spec


def build_pyramid(
    spark: SparkSession,
    images: DataFrame,
    path: str,
    G: int,
    reducer="mean",
    recursive: bool | None = None,
    run_id: str = "run-0",
    tilesize: int = 256,
    resume: bool = False,
    fuse_threshold: int = 64,
    materialize_base: bool = True,
    level_dtype: str | None = None,
    strict_formats: bool = False,
    fused_levels: int = 3,
) -> PyramidSpec:
    """Full build: base ingest + one checkpointed Spark job per FUSED
    level block.

    ``fused_levels`` (r9, the reference's A4 windowed execution /
    VERDICT r8 #2): decomposable-reducer builds emit up to this many
    levels per distributed pass — one ``groupBy(tx >> k, ty >> k)``
    job assembles the block's finest-level mosaic in memory and derives
    the coarser levels from it, so k levels cost one shuffle (the same
    bytes the first level alone used to shuffle), zero level rereads,
    and one commit job instead of k. The block size adapts down when
    the group count would drop below the session parallelism, and to
    whatever ``resume`` still needs; ``fused_levels=1`` restores the
    strict per-level pipeline (bit-identical results either way — the
    reduction chain is the same block_reduce/cast at every level
    boundary).

    ``level_dtype`` optionally narrows the stored level dtype (e.g.
    ``'float32'`` for mean levels — halves every level's shuffle and
    checkpoint bytes vs the float64 default; the measured scaling limiter
    on this host is level-byte disk bandwidth).

    ``reducer`` is a registry name or any callable over the block stack
    (``functions.reducers`` module docstring) — the reference's "any
    ``resampling_method``" contract (src/PyramidScheme.jl:42,353).

    ``recursive=None`` (default) resolves automatically: recursive for
    decomposable reducers (mean/min/max/sum, O(4/3 N) total work), direct
    for non-decomposable ones (mode/median/callables — the reference's
    caveat that recursive median "might lead to misleading results",
    src/PyramidScheme.jl:192-193). Passing ``recursive=True`` explicitly for
    a non-decomposable reducer is honored with a UserWarning (reference
    parity: its default builds mode-of-modes too).

    Checkpoint protocol (north rule): parquet partition first, then manifest
    lineage rows — a level is committed iff its manifest rows exist, so
    ``resume=True`` skips committed levels and restarts mid-build safely.
    """
    from ..functions.reducers import REDUCERS

    if not callable(reducer) and reducer not in REDUCERS:
        # fail fast at plan time, not inside a job
        raise KeyError(f"unknown reducer {reducer!r}; supported: {REDUCERS} or a callable")
    if recursive is None:
        recursive = is_decomposable(reducer)
    elif recursive and not is_decomposable(reducer):
        import warnings

        warnings.warn(
            f"recursive build with non-decomposable reducer "
            f"{reducer_name(reducer)!r} computes reduce-of-reduce, which "
            "diverges from the direct result (reference caveat, "
            "src/PyramidScheme.jl:192-193); pass recursive=False or None "
            "for the exact direct build",
            UserWarning,
            stacklevel=2,
        )
    import os

    verbose = os.environ.get("PYRAMID_BUILD_VERBOSE", "") not in ("", "0")
    # surface rows the decode stage will drop (warn, or raise under
    # strict_formats) — one cheap column-pruned pass (VERDICT r4 #3)
    audit_unsupported_images(images, strict=strict_formats, context=f"build {run_id}")
    gx, gy = _grid_dims(G)
    spec = PyramidSpec(gx * tilesize, gy * tilesize, tilesize)
    rname = reducer_name(reducer)
    rhash = reducer_hash(reducer if level_dtype is None else f"{rname}@{level_dtype}")
    done = set(committed_levels(spark, path, run_id)) if resume else set()
    ordinal = 0
    if 0 not in done:
        if materialize_base:
            write_level(base_tiles_from_images(images, G, spec), path, 0)
            lineage = manifest_lineage(path, 0, run_id, rname, rhash, 0)
        else:
            # base stays the images table (reference parity: buildpyramids
            # writes only levels 1..n, never copies the base — at 10^12
            # images a z=0 copy would double storage and I/O); the manifest
            # still records the commit for resume bookkeeping.
            lineage = [
                {
                    "run_id": run_id,
                    "z": 0,
                    "partition_id": -1,
                    "tile_count": -1,
                    "bytes": -1,
                    "reducer": rname,
                    "reducer_hash": rhash,
                    "committed_at_ordinal": 0,
                }
            ]
        append_manifest(spark, path, lineage)
        ordinal = 1
    _build_levels(
        spark, path, spec, reducer, level_dtype, run_id, rname, rhash, done, ordinal,
        recursive, fuse_threshold, fused_levels,
        None if materialize_base else images, G, verbose,
    )
    return spec
