"""User-facing facade: the reference's ``Pyramid`` API surface, Spark-style.

Maps the reference's entry points (SURVEY.md §2/§3) onto the engine:

| reference                              | here                                |
|----------------------------------------|-------------------------------------|
| ``Pyramid(data; resampling_method)``   | ``PyramidDataset.build(...)``       |
| ``Pyramid(path)`` (Zarr/COG scan)      | ``PyramidDataset.open(path)``       |
| ``buildpyramids(path)`` in-place       | ``build(..., materialize_base=False)`` |
| ``levels(p)`` / ``levels(p, i)``       | ``.levels()`` / ``.level(i)``       |
| ``nlevels(p)``                         | ``.nlevels``                        |
| ``selectlevel(p, ext, target)``        | ``.read_window(extent, target)``    |
| ``p[X=a..b, Y=c..d]`` subsetting       | ``.subset(x0, x1, y0, y1)``         |
| ``map(f, p)`` / broadcast ``p .+ s``   | ``.map(op, scalar)``                |
| ``p1 .- p2`` (zip broadcast)           | ``.zip_with(other, op)``            |
| ``p1 == p2``                           | ``.equals(other)``                  |
| ``cat(p1, p2; dims)``                  | ``.cat_x(other)`` / ``.stack_bands``|
| ``write(path, p)`` copy-out            | ``.write_to(path)``                 |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.build import PyramidSpec, build_pyramid
from .operators.read import (
    cat_bands,
    cat_tiles,
    cat_tiles_x,
    map_tiles,
    pyramids_equal,
    read_level_array,
    read_window,
    stack_bands,
    subset_tiles,
    zip_tiles,
)
from .sources.catalog import (
    read_level,
    read_manifest,
    read_multiscales,
    read_tiles,
    write_level,
    write_multiscales,
)


class PyramidDataset:
    """A tile pyramid stored at ``path`` (parquet levels + manifest)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        spec: PyramidSpec,
        reducer: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.spec = spec
        #: resampling method recovered from _multiscales.json when opened
        self.reducer = reducer
        self._cached: DataFrame | None = None

    # -- constructors ------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        images: DataFrame,
        path: str,
        G: int,
        reducer="mean",
        recursive: bool | None = None,
        run_id: str = "run-0",
        tilesize: int = 256,
        resume: bool = False,
        materialize_base: bool = True,
        **build_kwargs,
    ) -> "PyramidDataset":
        spec = build_pyramid(
            spark, images, path, G,
            reducer=reducer, recursive=recursive, run_id=run_id,
            tilesize=tilesize, resume=resume, materialize_base=materialize_base,
            **build_kwargs,
        )
        return cls(spark, path, spec)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        tilesize: int = 256,
        asof_ordinal: int | None = None,
    ) -> "PyramidDataset":
        """Open an existing pyramid (the reference's path constructor,
        src/PyramidScheme.jl:50-63). When the pyramid carries a
        ``_multiscales.json`` interchange document (every built/imported
        pyramid does — VERDICT r2 #4), plan constants and the resampling
        method come from it with ZERO Spark jobs; otherwise level extents
        are recovered from the stored base level's tile columns.

        ``asof_ordinal`` is the Iceberg time-travel analog over the
        append-only manifest (``catalog.snapshots`` is the snapshot log):
        the dataset advertises exactly the levels committed at ordinal <=
        N — open a half-built pyramid as the valid prefix a reader at that
        commit would have seen. Scope: SNAPSHOT OF LEVELS. Bulk builds
        only append levels, so the as-of view is exact for them; streaming
        patches rewrite tile files in place, which no manifest can undo —
        pixel-level MVCC needs a versioned store (real Iceberg data files)
        underneath."""
        if asof_ordinal is not None:
            zs = [
                r["z"]
                for r in read_manifest(spark, path)
                .where(F.col("committed_at_ordinal") <= asof_ordinal)
                .select("z")
                .distinct()
                .collect()
            ]
            if not zs:
                raise ValueError(
                    f"{path}: no level committed at ordinal <= {asof_ordinal}"
                )
            base = cls.open(spark, path, tilesize=tilesize)
            cap = max(zs)
            spec = PyramidSpec(
                base.spec.base_w, base.spec.base_h, base.spec.tilesize,
                nlevels_cap=min(cap, base.spec.nlevels),
            )
            return cls(spark, path, spec, reducer=base.reducer)
        ms = read_multiscales(path)
        if ms is not None and all(k in ms for k in ("base_w", "base_h", "tilesize")):
            # honor the stored level count: prebuilt imports may carry fewer
            # overviews than the geometry plans, and levels()/save() must
            # not read nonexistent tiles/z=... paths. A cap equal to the
            # geometric plan is redundant — omit it so opened complete
            # pyramids compare equal to their build-time spec.
            from .plans.grid import compute_nlevels

            cap = int(ms["nlevels"]) if "nlevels" in ms else None
            if cap is not None and cap >= compute_nlevels(
                (int(ms["base_w"]), int(ms["base_h"])), int(ms["tilesize"])
            ):
                cap = None
            return cls(
                spark,
                path,
                PyramidSpec(
                    int(ms["base_w"]), int(ms["base_h"]), int(ms["tilesize"]),
                    nlevels_cap=cap,
                ),
                reducer=ms.get("resampling_method"),
            )
        base = read_level(spark, path, 0)
        mx = base.agg(
            F.max(F.col("tx") * tilesize + F.col("w")).alias("w"),
            F.max(F.col("ty") * tilesize + F.col("h")).alias("h"),
        ).collect()[0]
        return cls(spark, path, PyramidSpec(int(mx["w"]), int(mx["h"]), tilesize))

    # -- accessors (reference C3) -----------------------------------------

    @property
    def nlevels(self) -> int:
        return self.spec.nlevels

    def levels(self) -> DataFrame:
        if self._cached is not None:
            return self._cached
        return read_tiles(self.spark, self.path)

    # -- P3 materialize / eager read (reference modify/read,
    #    src/PyramidScheme.jl:109-116) ------------------------------------

    def materialize(self) -> "PyramidDataset":
        """Pin every level in executor memory (``modify(Array, pyr)``'s
        lazy->eager flip, Spark-style): subsequent operators read the cache
        instead of re-scanning parquet. Idempotent; pair with
        ``unpersist()``."""
        if self._cached is None:
            self._cached = read_tiles(self.spark, self.path).persist()
            self._cached.count()  # materialize now, not on first use
        return self

    def unpersist(self) -> "PyramidDataset":
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None
        return self

    def read(self, z: int | None = None):
        """Eager driver-side read (reference ``read(pyr)``): one stitched
        numpy array for level ``z``, or ``{z: array}`` for all levels.
        Driver-sized by definition — use ``read_window`` for viewports."""
        if z is not None:
            return read_level_array(self.spark, self.path, self.spec, z)
        return {
            zz: read_level_array(self.spark, self.path, self.spec, zz)
            for zz in range(self.spec.nlevels + 1)
        }

    def level(self, z: int) -> DataFrame:
        return read_level(self.spark, self.path, z)

    def manifest(self) -> DataFrame:
        return read_manifest(self.spark, self.path)

    # -- reads --------------------------------------------------------------

    def read_window(self, extent, target_imsize=(1024, 512), axis_names=("x", "y"), bbox_transform=None):
        """Viewport read. ``axis_names`` is the ``switchkeys`` analog (L2);
        ``bbox_transform`` is the pluggable CRS hook (L3) — identity in the
        sandbox, a pyproj/Sedona transform in production."""
        if bbox_transform is not None:
            extent = bbox_transform(extent)
        arr, ax, ay, z = read_window(self.spark, self.path, self.spec, extent, target_imsize)
        return {"data": arr, axis_names[0]: ax, axis_names[1]: ay, "z": z}

    def subset(self, x0: int, x1: int, y0: int, y1: int) -> DataFrame:
        return subset_tiles(self.levels(), x0, x1, y0, y1, self.spec.tilesize)

    # -- elementwise / binary ops ------------------------------------------

    def map(self, op: str, scalar: float | None = None) -> DataFrame:
        return map_tiles(self.levels(), op, scalar)

    def zip_with(self, other: "PyramidDataset", op: str) -> DataFrame:
        return zip_tiles(self.levels(), other.levels(), op)

    def _reducer_hashes(self) -> set[str]:
        """Distinct reducer hashes recorded in this pyramid's lineage
        manifest for aggregated levels (z > 0; the base level is a copy of
        the input, independent of the reducer). Empty when no manifest
        exists (e.g. imported prebuilt levels)."""
        try:
            m = read_manifest(self.spark, self.path)
        except Exception:
            return set()
        return {
            r[0]
            for r in m.where(F.col("z") > 0).select("reducer_hash").distinct().collect()
        }

    def equals(self, other: "PyramidDataset", rtol: float = 0.0) -> bool:
        """Reference ``isequal`` semantics: pyramids that differ only in the
        reducer are NOT equal (test/runtests.jl mode-vs-mean category), so
        lineage ``reducer_hash`` is compared before any pixel bytes. When
        either side has no manifest (prebuilt import), equality falls back
        to pixels only."""
        ra, rb = self._reducer_hashes(), other._reducer_hashes()
        if ra and rb and ra != rb:
            return False
        return pyramids_equal(self.levels(), other.levels(), rtol)

    def cat_x(self, *others: "PyramidDataset") -> DataFrame:
        """n-ary ``cat(p1, p2, ...; dims=X)`` (reference test/runtests.jl:130-143)."""
        return cat_tiles([(p.levels(), p.spec) for p in (self, *others)], axis="x")

    def cat_y(self, *others: "PyramidDataset") -> DataFrame:
        """n-ary ``cat(...; dims=Y)``."""
        return cat_tiles([(p.levels(), p.spec) for p in (self, *others)], axis="y")

    def stack_bands(self, *others: "PyramidDataset") -> DataFrame:
        """n-ary ``cat(...; dims=Dim{:new})`` — stack into the channel axis."""
        if len(others) == 1:
            return stack_bands(self.levels(), others[0].levels())
        return cat_bands([p.levels() for p in (self, *others)])

    # -- sinks ---------------------------------------------------------------

    def write_to(self, path: str) -> "PyramidDataset":
        """Copy-out write (reference K3, canonical bottom-up level order —
        we do not copy the reference writer's coarsest-first quirk,
        src/PyramidScheme.jl:505-512)."""
        for z in range(self.spec.nlevels + 1):
            write_level(self.level(z), path, z)
        src_ms = read_multiscales(self.path) or {}
        write_multiscales(
            path,
            self.spec.nlevels,
            self.spec.tilesize,
            self.spec.base_w,
            self.spec.base_h,
            src_ms.get("resampling_method") or self.reducer or "unknown",
            src_ms.get("reducer_hash") or "",
        )
        return PyramidDataset(self.spark, path, self.spec, reducer=self.reducer)


def _level_spec(spark: SparkSession, path: str, z: int) -> PyramidSpec:
    """The pyramid's spec, refusing a level ``z`` it does not have."""
    spec = PyramidDataset.open(spark, path).spec
    if z < 0 or z >= spec.nlevels + 1:
        raise ValueError(f"level {z} out of range for {spec.nlevels + 1}-level pyramid")
    return spec
