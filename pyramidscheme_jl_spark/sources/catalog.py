"""Tile-pyramid table catalog: Iceberg-style layout emulated on parquet.

No Iceberg jars exist in the sandbox (SURVEY.md §7.0), so a pyramid dataset
is a directory:

    <path>/tiles/z=<level>/part-*.parquet   -- tile rows, partitioned by z
    <path>/_manifest/*.parquet              -- append-only lineage/commit rows

The manifest plays the role of Iceberg snapshots (north rule: per-partition
lineage rows — tile counts, bytes, reducer hash — and resume-from-checkpoint:
a level is committed iff its manifest rows exist, and manifest rows are only
written *after* the level's parquet lands, so a crashed build resumes at the
first level without manifest rows). Swapping in a real Iceberg catalog means
replacing read/write here with ``spark.read.format("iceberg")`` /
``writeTo(...).append()`` — nothing above this module changes.

Scan-side design for scale: ``z`` is a physical partition column (partition
pruning), and ``tx``/``ty``/``cell``/extents are top-level scalar columns so
parquet min/max stats skip row groups for window/bbox predicates — the Spark
analogue of the reference's chunk-pruned ``selectlevel`` read
(src/PyramidScheme.jl:454-467).

``read_level`` is the Spark scan for distributed consumers (joins,
``zip_tiles``, raster operators, compaction); ``read_tiles_local`` is the
pyarrow read behind every driver-sized read (``read_window``, ``read(z)``,
the build and ingest tails). This module owns the tile-file format both
parse: arrow column types, filewise ``tile-`` and bounded ``delta-`` names.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsio import DEFAULT_FS, LocalFS

TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.IntegerType()),
        T.StructField("ty", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("vmin", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
        T.StructField("vmean", T.DoubleType()),
        T.StructField("cell", T.LongType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)

#: tile columns minus the partition column (layout on disk)
TILE_DATA_COLS = [f.name for f in TILE_SCHEMA.fields if f.name != "z"]

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("tile_count", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("reducer", T.StringType()),
        T.StructField("reducer_hash", T.StringType()),
        T.StructField("committed_at_ordinal", T.LongType()),
    ]
)


def level_path(path: str, z: int) -> str:
    return f"{path}/tiles/z={z}"


_TILE_ARROW_TYPES_CACHE: dict[bool, dict] = {}


def _tile_arrow_types(with_t: bool = False):
    """Arrow schema for one tile row, memoized — rebuilt-per-row dicts on
    the executor write hot path are pure waste."""
    cached = _TILE_ARROW_TYPES_CACHE.get(with_t)
    if cached is not None:
        return cached
    import pyarrow as pa

    arrow_types = {
        "tx": pa.int32(), "ty": pa.int32(), "bytes": pa.binary(),
        "w": pa.int32(), "h": pa.int32(), "c": pa.int32(), "dtype": pa.string(),
        "vmin": pa.float64(), "vmax": pa.float64(), "vmean": pa.float64(),
        "cell": pa.int64(),
        "xmin": pa.float64(), "ymin": pa.float64(),
        "xmax": pa.float64(), "ymax": pa.float64(),
    }
    assert list(arrow_types) == TILE_DATA_COLS
    if with_t:
        arrow_types = {"t": pa.int32(), **arrow_types}
    _TILE_ARROW_TYPES_CACHE[with_t] = arrow_types
    return arrow_types


def _tile_fname(r: dict, with_t: bool = False) -> str:
    """THE deterministic tile filename — single source of truth for the
    idempotent last-writer-wins upsert contract."""
    parts = ([f"t{int(r['t']):06d}"] if with_t else []) + [
        f"{int(r['tx']):06d}", f"{int(r['ty']):06d}"
    ]
    return "tile-" + "-".join(parts) + ".parquet"


#: a ``_tile_fname`` name: (t or None, tx, ty)
_TILE_NAMED = re.compile(r"^tile-(?:t(\d+)-)?(\d+)-(\d+)\.parquet$")


def _delta_fname(
    ordinal: int, pid: int, bounds=None, merged: bool = False
) -> str:
    """Deterministic per-(batch, task-partition) delta filename — batch
    ordinal first so lexical order == commit order. ``bounds`` =
    ``(txmin, txmax, tymin, tymax)`` rides in the NAME so a driver read
    (``read_tiles_local``, any object-store reader) can prune whole files
    without a footer GET — the delta analog of the filewise
    ``tile-<tx>-<ty>`` contract. Deterministic: the bounds are a pure
    function of the task's rows, so retries republish the same name."""
    tag = "m" if merged else "p"
    stem = f"delta-b{int(ordinal):08d}-{tag}{int(pid):05d}"
    if bounds is not None:
        x0, x1, y0, y1 = (int(v) for v in bounds)
        stem += f"-x{x0}-{x1}-y{y0}-{y1}"
    return stem + ".parquet"


#: bounds-bearing delta name (older bound-less names read unpruned)
_DELTA_BOUNDED = re.compile(r"^delta-.*-x(\d+)-(\d+)-y(\d+)-(\d+)\.parquet$")


def write_level_driver(rows: list[dict], path: str, z: int) -> None:
    """Write a (small) level directly with pyarrow — used by tail fusion for
    the pyramid tip, where a Spark job is pure overhead. Produces the same
    layout/schema as ``write_level`` so readers can't tell the difference."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = level_path(path, z)
    shutil.rmtree(d, ignore_errors=True)  # idempotent like mode=overwrite
    os.makedirs(d, exist_ok=True)
    rows = sorted(rows, key=lambda r: r["cell"])  # Morton order like write_level
    table = pa.table(
        {c: pa.array([r[c] for r in rows], t) for c, t in _tile_arrow_types().items()}
    )
    pq.write_table(table, os.path.join(d, "part-00000-driver.parquet"), compression="zstd")


def write_level(
    df: DataFrame, path: str, z: int, spatial_sort: bool | str = True
) -> None:
    """Checkpoint one pyramid level (idempotent: overwrite its partition).

    ``spatial_sort`` (round 5): row-group min/max stats on tx/ty are the
    only thing that lets a window read skip data in plain parquet, and
    before this the within-file order was whatever the producing stage
    happened to emit — for the downsample levels that is applyInPandas's
    internal sort by (ptx, pty), i.e. an ACCIDENT of Spark internals
    (row-major, and absent for any level produced another way).

    - ``True``/"local" (default): ``sortWithinPartitions(cell)`` — NO
      extra exchange (measured free: 7.10 vs 7.12 s interleaved A/B at
      G=64). Makes Morton order a CONTRACT of the layout: each row group
      is a contiguous cell range (compact ~square blocks, which bound
      both tx and ty for 2-D windows, where row-major only bounds ty),
      independent of what stage produced the level. With plain parquet
      Spark opens every footer either way (file-level stats pruning
      needs a catalog), so this captures the whole row-group win at
      zero cost.
    - ``"range"``: ``repartitionByRange(cell)`` + sort — additionally
      makes each FILE a disjoint Morton range, the layout a file-stats
      catalog (Iceberg manifests) prunes without opening footers. Costs
      one extra exchange of the level bytes (measured +36% build time
      locally) — the write-amplification-for-read trade to pick when a
      real catalog serves the reads.
    - ``False``: producer order (throwaway intermediates)."""
    out = df.select(*TILE_DATA_COLS)
    if spatial_sort == "range":
        out = out.repartitionByRange(F.col("cell")).sortWithinPartitions("cell")
    elif spatial_sort:
        out = out.sortWithinPartitions("cell")
    out.write.mode("overwrite").parquet(level_path(path, z))


def write_levels_fused(df: DataFrame, path: str) -> None:
    """Checkpoint SEVERAL pyramid levels from one fused build job in one
    write: partitioned by ``z`` into the same ``tiles/z=N`` dirs
    ``write_level`` produces (z is a directory column, dropped from the
    files, exactly like ``TILE_DATA_COLS``), dynamic partition overwrite
    so only the levels present in ``df`` are replaced, and rows sorted
    ``(z, cell)`` within each task so every per-level file keeps the
    Morton row-group contract."""
    out = df.select("z", *TILE_DATA_COLS).sortWithinPartitions("z", "cell")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("z")
        .parquet(f"{path}/tiles")
    )


def _delta_level_names(path: str, z: int) -> list[str]:
    """Delta files in a level dir ([] for bulk/filewise/missing levels) —
    one driver-side metadata listing through the fs seam."""
    return [
        n
        for n in DEFAULT_FS.listdir(level_path(path, z))
        if n.startswith("delta-") and n.endswith(".parquet")
    ]


def _dedup_delta(df: DataFrame) -> DataFrame:
    """Last-writer-wins over delta tile versions: per tile key, keep the
    row with the highest ``_ord`` (batch ordinal). Same-ordinal duplicates
    (stale partial files from a re-partitioned batch retry) are
    value-identical by construction — any pick is correct."""
    from pyspark.sql.window import Window

    keys = [c for c in ("t", "tx", "ty") if c in df.columns]
    win = Window.partitionBy(*keys).orderBy(F.col("_ord").desc())
    return (
        df.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_ord")
    )


def read_level(spark: SparkSession, path: str, z: int) -> DataFrame:
    df = spark.read.parquet(level_path(path, z))
    if "_ord" in df.columns or _delta_level_names(path, z):
        df = _dedup_delta(df)
    return df.withColumn("z", F.lit(z).cast("int"))


def read_tiles_local(
    path: str, z: int, txs=None, tys=None, ts=None, fs: LocalFS = DEFAULT_FS
):
    """Driver-side pyarrow read of the level-``z`` tiles with keys in
    ``txs`` x ``tys`` (x ``ts`` on a cube level; ``None`` keeps all); no
    Spark job. Opens only files whose names (``tile-[t<t>-]<tx>-<ty>``,
    bounded ``delta-...``) can hold a wanted key, in a small thread pool,
    and filters row groups on tx/ty/t IN lists. Last writer wins per key
    on ``_ord`` (``read_level``'s semantics). Returns the stored columns
    as pandas. A missing level, or a listed file gone before open, raises
    FileNotFoundError."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd
    import pyarrow.parquet as pq

    keep = [None if k is None else {int(v) for v in k} for k in (ts, txs, tys)]

    def wanted(name: str) -> bool:
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            return False
        m = _TILE_NAMED.match(name)
        if m:
            return all(k is None or v is None or int(v) in k for k, v in zip(keep, m.groups()))
        m = _DELTA_BOUNDED.match(name)
        if m:
            x0, x1, y0, y1 = (int(v) for v in m.groups())
            return all(
                k is None or any(lo <= v <= hi for v in k)
                for k, lo, hi in ((keep[1], x0, x1), (keep[2], y0, y1))
            )
        return True

    d = level_path(path, z)
    names = fs.listdir(d)
    if not names and not fs.exists(d):
        raise FileNotFoundError(d)
    files = sorted(n for n in names if wanted(n))
    filters = [
        (c, "in", sorted(k)) for c, k in zip(("t", "tx", "ty"), keep) if k is not None
    ] or None

    def read_one(name: str):
        return pq.read_table(os.path.join(d, name), filters=filters).to_pandas()

    with ThreadPoolExecutor(max_workers=min(8, len(files)) or 1) as ex:
        frames = [f for f in ex.map(read_one, files) if len(f)]
    if not frames:
        return pd.DataFrame(columns=TILE_DATA_COLS)
    pdf = pd.concat(frames, ignore_index=True)
    if "_ord" in pdf.columns:
        keys = [c for c in ("t", "tx", "ty") if c in pdf.columns]
        pdf = (
            pdf.sort_values("_ord", kind="stable", na_position="first")
            .drop_duplicates(keys, keep="last")
            .drop(columns="_ord")
        )
    return pdf


def read_tiles(spark: SparkSession, path: str) -> DataFrame:
    """All levels; ``z`` recovered as a partition column (pruning-friendly).

    Streamed-delta pyramids read as a union of per-level deduped scans —
    a literal ``z`` per branch, so a ``z = k`` filter still constant-folds
    every other branch to an empty relation (pruning preserved); compacted
    or built pyramids take the single-scan fast path."""
    zs = sorted(
        int(d.split("=", 1)[1])
        for d in DEFAULT_FS.listdir(f"{path}/tiles")
        if d.startswith("z=")
    )
    if any(_delta_level_names(path, z) for z in zs):
        parts = [
            read_level(spark, path, z).select(*[f.name for f in TILE_SCHEMA.fields])
            for z in zs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    df = spark.read.parquet(f"{path}/tiles")
    return df.withColumn("z", F.col("z").cast("int")).select(*[f.name for f in TILE_SCHEMA.fields])


def append_manifest(spark: SparkSession, path: str, rows: list[dict]) -> None:
    """Manifest rows are driver-side metadata (a handful per level commit) —
    written directly with pyarrow, not a Spark job. A job here would add
    seconds of fixed overhead per level for kilobytes of data."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(f"{path}/_manifest", exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in MANIFEST_SCHEMA.fields}
    table = pa.table(
        {
            "run_id": pa.array(cols["run_id"], pa.string()),
            "z": pa.array(cols["z"], pa.int32()),
            "partition_id": pa.array(cols["partition_id"], pa.int32()),
            "tile_count": pa.array(cols["tile_count"], pa.int64()),
            "bytes": pa.array(cols["bytes"], pa.int64()),
            "reducer": pa.array(cols["reducer"], pa.string()),
            "reducer_hash": pa.array(cols["reducer_hash"], pa.string()),
            "committed_at_ordinal": pa.array(cols["committed_at_ordinal"], pa.int64()),
        }
    )
    pq.write_table(table, f"{path}/_manifest/commit-{uuid.uuid4().hex}.parquet")


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/_manifest")


def committed_levels(spark: SparkSession, path: str, run_id: str | None = None) -> list[int]:
    """Levels whose manifest rows exist == committed checkpoints (resume)."""
    try:
        m = read_manifest(spark, path)
    except Exception:
        return []
    if run_id is not None:
        m = m.where(F.col("run_id") == run_id)
    return sorted(r[0] for r in m.select("z").distinct().collect())


def snapshots(spark: SparkSession, path: str) -> DataFrame:
    """The Iceberg-snapshot-log analog: one row per level commit, ordered
    by ``committed_at_ordinal`` — (ordinal, run_id, z, reducer,
    reducer_hash, tiles, bytes). Drives as-of reads
    (``PyramidDataset.open(asof_ordinal=...)``) and audit queries."""
    m = read_manifest(spark, path)
    return (
        m.groupBy("committed_at_ordinal", "run_id", "z", "reducer", "reducer_hash")
        .agg(
            F.sum(F.when(F.col("tile_count") >= 0, F.col("tile_count"))).alias("tiles"),
            F.sum(F.when(F.col("bytes") >= 0, F.col("bytes"))).alias("bytes"),
        )
        .orderBy("committed_at_ordinal")
    )


def manifest_lineage(
    path: str, z: int, run_id: str, reducer: str, rhash: str, ordinal: int
) -> list[dict]:
    """Per-partition lineage rows for a just-written level, from parquet
    FOOTER metadata only (row counts + file sizes) — no data pages are read
    and no Spark job runs. partition_id == output file index."""
    import pyarrow.parquet as pq

    d = level_path(path, z)
    files = sorted(
        f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith("_")
    )
    rows = []
    for i, f in enumerate(files):
        fp = os.path.join(d, f)
        meta = pq.read_metadata(fp)
        rows.append(
            {
                "run_id": run_id,
                "z": int(z),
                "partition_id": i,
                "tile_count": int(meta.num_rows),
                "bytes": int(os.path.getsize(fp)),
                "reducer": reducer,
                "reducer_hash": rhash,
                "committed_at_ordinal": int(ordinal),
            }
        )
    return rows


# ---------------------------------------------------------------------------
# multiscales interchange metadata (VERDICT r2 #4)
# ---------------------------------------------------------------------------
#
# The reference writes GeoZarr-style ``multiscales`` attrs so foreign tools
# discover the level stack without reading data
# (/root/reference/src/PyramidScheme.jl:381-388: datasets list + type +
# resampling_method). Same document here, shaped for the parquet layout:
# one JSON file at the pyramid root listing every level's relative path
# plus the plan constants needed to reopen the pyramid without a scan.

MULTISCALES_FILE = "_multiscales.json"


def write_multiscales(
    path: str,
    nlevels: int,
    tilesize: int,
    base_w: int,
    base_h: int,
    reducer: str,
    reducer_hash: str,
) -> None:
    import json

    doc = {
        "multiscales": [
            {
                "datasets": [{"path": f"tiles/z={z}"} for z in range(nlevels + 1)],
                "type": "reduce",
                "resampling_method": reducer,
                "metadata": {
                    "nlevels": int(nlevels),
                    "tilesize": int(tilesize),
                    "base_w": int(base_w),
                    "base_h": int(base_h),
                    "reducer_hash": reducer_hash,
                },
            }
        ]
    }
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, MULTISCALES_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, os.path.join(path, MULTISCALES_FILE))


def read_multiscales(path: str) -> dict | None:
    """The first multiscale entry's flattened view, or None when absent /
    unreadable (absence is normal: streaming-ingested or foreign pyramids)."""
    import json

    p = os.path.join(path, MULTISCALES_FILE)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            doc = json.load(f)
        ms = doc["multiscales"][0]
        return {
            "datasets": [d["path"] for d in ms["datasets"]],
            "resampling_method": ms.get("resampling_method"),
            **ms.get("metadata", {}),
        }
    except Exception:
        return None
