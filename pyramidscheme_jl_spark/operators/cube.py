"""Time/Z cubes: tiles keyed by ``(t, z, tx, ty)`` (VERDICT r2 #6).

The reference aggregates ONLY the spatial X/Y dims and passes every other
dim (band, time, Z) through untouched (/root/reference/src/PyramidScheme.jl:229-233,
pinned by test/runtests.jl:145-166). Bands already ride the ``c`` channel
axis inside each tile; this module adds the *named non-spatial dim* case —
a time-stacked (or Z-stacked) cube — as an integer ``t`` column on the
tile table:

- ``t`` joins every aggregation KEY and never the aggregated values, so
  each t-slice downsamples independently in the same Spark jobs (one job
  per level for the whole cube, not per slice — slices are just more rows,
  which is exactly how Spark wants extra cardinality).
- Level shapes are ``(ceil(h/2^z), ceil(w/2^z))`` per slice — the t extent
  never shrinks, matching the reference's pass-through semantics.
- ``cube_slice`` projects one t back to the plain tile schema, so the
  whole existing operator surface (read/cat/zip/equality/windowed reads)
  applies per slice unchanged.

Scale shape: the shuffle key gains a column but the byte volume per level
is identical to |t| independent pyramids; hash partitioning spreads
(t, ptx, pty) groups evenly, so a 1000-slice cube parallelizes strictly
better than 1000 sequential per-slice builds (one job amortizes all
scheduling/commit overhead).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.reducers import is_decomposable, reducer_hash, reducer_name
from ..sources.catalog import (
    TILE_DATA_COLS,
    TILE_SCHEMA,
    append_manifest,
    committed_levels,
    level_path,
    manifest_lineage,
    write_multiscales,
)
from .build import (
    SUPPORTED_IMAGE_FMTS,
    PyramidSpec,
    _decode_payload,
    _grid_dims,
    _level_block,
    _tile_row,
)

CUBE_TILE_SCHEMA = T.StructType(
    [T.StructField("t", T.IntegerType())] + list(TILE_SCHEMA.fields)
)


def _cube_rows_to_pdf(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=[f.name for f in CUBE_TILE_SCHEMA.fields])
    for col in ("t", "z", "tx", "ty", "w", "h", "c"):
        pdf[col] = pdf[col].astype("int32")
    pdf["cell"] = pdf["cell"].astype("int64")
    return pdf


def _t_checked_int32(t_col: str):
    """t as int32, LOUDLY — a plain cast silently wraps for t >= 2^31
    (epoch seconds after Jan 2038) in non-ANSI Spark while the streaming
    cube path advertises epoch-scale t (ADVICE r4). assert_true raises
    JVM-side on the first out-of-range row; NULL passthrough is preserved
    (assert_true(null-comparison) only fires on non-null violations)."""
    t_big = F.col(t_col).cast("long")
    in_range = (t_big >= F.lit(-(1 << 31))) & (t_big < F.lit(1 << 31))
    guard = F.assert_true(
        in_range | t_big.isNull(),
        F.concat(
            F.lit("cube t overflows int32 tile storage (got "),
            t_big.cast("string"),
            F.lit("); widen/bucket t upstream"),
        ),
    )
    return F.when(guard.isNull(), t_big.cast("int"))


def base_cube_src(images: DataFrame, G, t_col: str = "t") -> DataFrame:
    """JVM-side projection feeding the cube base decode stage."""
    gx, _ = _grid_dims(G)
    idx = F.regexp_extract("image_id", r"^img-(\d{8})$", 1).cast("long")
    return (
        images.where(F.col("fmt").isin(*SUPPORTED_IMAGE_FMTS))
        .where(idx.isNotNull())
        .select(
            _t_checked_int32(t_col).alias("t"),
            (idx % gx).cast("int").alias("tx"),
            (idx / gx).cast("int").alias("ty"),
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
        )
    )


def base_cube_tile_gen(spec: PyramidSpec):
    """Decode+stats transform over ``base_cube_src`` batches (see
    ``build.base_tile_gen`` for why this is exposed separately)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for t, tx, ty, iid, buf, w, h, fmt in zip(
                pdf["t"], pdf["tx"], pdf["ty"], pdf["image_id"], pdf["bytes"],
                pdf["w"], pdf["h"], pdf["fmt"],
            ):
                arr = _decode_payload(buf, w, h, fmt, iid)
                rows.append(dict(_tile_row(spec, 0, int(tx), int(ty), arr), t=int(t)))
            if rows:
                yield _cube_rows_to_pdf(rows)

    return gen


def base_cube_tiles(
    images: DataFrame, G, spec: PyramidSpec, t_col: str = "t"
) -> DataFrame:
    """images (input_hint schema + an integer ``t_col``) -> level-0 cube
    tiles. Same narrow decode pass as ``base_tiles_from_images``; ``t``
    rides along untouched."""
    return base_cube_src(images, G, t_col).mapInPandas(
        base_cube_tile_gen(spec), CUBE_TILE_SCHEMA
    )


def build_cube_level(
    prev: DataFrame, z: int, spec: PyramidSpec, reducer, level_dtype: str | None = None
) -> DataFrame:
    """One recursive step for every t-slice at once: the shared level
    block (``build._level_block``, k=1) with ``t`` as a lead key — it
    joins the shuffle key and never the aggregated values, the 'pass
    through aggregation untouched' semantics, relationally."""
    return _level_block(prev, False, z, 1, spec, reducer, level_dtype, lead=("t",))


CUBE_DATA_COLS = ["t", *TILE_DATA_COLS]


def write_cube_level(
    df: DataFrame, path: str, z: int, spatial_sort: bool | str = True
) -> None:
    """Cube-level checkpoint; ``spatial_sort`` orders by (t, cell) so
    row-group stats stay tight per slice AND per viewport — same
    local-sort-by-default / range-opt-in contract and measured rationale
    as ``catalog.write_level``."""
    out = df.select(*CUBE_DATA_COLS)
    if spatial_sort == "range":
        out = out.repartitionByRange(F.col("t"), F.col("cell")).sortWithinPartitions(
            "t", "cell"
        )
    elif spatial_sort:
        out = out.sortWithinPartitions("t", "cell")
    out.write.mode("overwrite").parquet(level_path(path, z))


def read_cube_level(spark: SparkSession, path: str, z: int) -> DataFrame:
    from ..sources.catalog import _dedup_delta, _delta_level_names

    df = spark.read.parquet(level_path(path, z))
    if "_ord" in df.columns or _delta_level_names(path, z):
        df = _dedup_delta(df)  # streamed-delta cube level (keys t, tx, ty)
    return df.withColumn("z", F.lit(z).cast("int"))


def read_cube_tiles(spark: SparkSession, path: str) -> DataFrame:
    from ..sources.catalog import _delta_level_names
    from ..sources.fsio import DEFAULT_FS

    zs = sorted(
        int(d.split("=", 1)[1])
        for d in DEFAULT_FS.listdir(f"{path}/tiles")
        if d.startswith("z=")
    )
    if any(_delta_level_names(path, z) for z in zs):
        parts = [
            read_cube_level(spark, path, z).select(
                *[f.name for f in CUBE_TILE_SCHEMA.fields]
            )
            for z in zs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    df = spark.read.parquet(f"{path}/tiles")
    return df.withColumn("z", F.col("z").cast("int")).select(
        *[f.name for f in CUBE_TILE_SCHEMA.fields]
    )


def cube_slice(tiles: DataFrame, t: int) -> DataFrame:
    """Project one t-slice back to the plain tile schema — every existing
    pyramid operator (read/cat/zip/equality) then applies unchanged. The
    ``t = <lit>`` predicate is source-pushable (parquet min/max skipping)."""
    return tiles.where(F.col("t") == int(t)).select(
        *[f.name for f in TILE_SCHEMA.fields]
    )


def cat_cubes_t(cubes: list[DataFrame]) -> DataFrame:
    """``cat`` along the t dim: union with each cube's t range shifted past
    the previous extent (one tiny driver job per cube for the max; zero
    shuffle — pure union, like ``cat_tiles``)."""
    if len(cubes) < 2:
        raise ValueError("cat_cubes_t needs >= 2 cubes")
    out = cubes[0]
    for nxt in cubes[1:]:
        # max over the accumulated union — NOT a compounding += (that gapped
        # the third and later cubes' t ranges)
        offset = int(out.agg(F.max("t")).collect()[0][0]) + 1
        out = out.unionByName(
            nxt.withColumn("t", (F.col("t") + F.lit(offset)).cast("int"))
        )
    return out


def build_cube(
    spark: SparkSession,
    images: DataFrame,
    path: str,
    G,
    reducer="mean",
    run_id: str = "cube-0",
    tilesize: int = 256,
    t_col: str = "t",
    resume: bool = False,
    level_dtype: str | None = None,
    strict_formats: bool = False,
) -> PyramidSpec:
    """Build a (x, y, t) cube pyramid: one checkpointed Spark job per level
    covering EVERY t-slice (reference pass-through-dims semantics,
    src/PyramidScheme.jl:229-233). Same checkpoint/manifest protocol as
    ``build_pyramid`` (level committed iff manifest rows exist; resume
    skips committed levels). Recursive only — cubes require a decomposable
    reducer (use per-slice ``build_pyramid`` for mode/median exactness)."""
    if not is_decomposable(reducer):
        raise ValueError(
            f"build_cube is recursive; reducer {reducer_name(reducer)!r} is not "
            "decomposable — build per-slice with build_pyramid(recursive=False)"
        )
    from .build import audit_unsupported_images

    audit_unsupported_images(images, strict=strict_formats, context=f"cube {run_id}")
    gx, gy = _grid_dims(G)
    spec = PyramidSpec(gx * tilesize, gy * tilesize, tilesize)
    rname = reducer_name(reducer)
    rhash = reducer_hash(reducer if level_dtype is None else f"{rname}@{level_dtype}")
    done = set(committed_levels(spark, path, run_id)) if resume else set()

    def commit(df: DataFrame, z: int) -> None:
        write_cube_level(df, path, z)
        append_manifest(
            spark, path, manifest_lineage(path, z, run_id, rname, rhash, z)
        )

    if 0 not in done:
        commit(base_cube_tiles(images, G, spec, t_col), 0)
    for z in range(1, spec.nlevels + 1):
        if z not in done:
            prev = read_cube_level(spark, path, z - 1)
            commit(build_cube_level(prev, z, spec, reducer, level_dtype), z)
    write_multiscales(
        path, spec.nlevels, tilesize, spec.base_w, spec.base_h, rname, rhash
    )
    return spec
