"""Spatial joins over the cell index (SURVEY.md §2.8, north rule J2-J6).

The reference has no relational joins (its only binary op is the positional
zip of broadcast, src/broadcast.jl:34-52); these operators are graft-mandated
and designed Spark-first:

- **Point-in-polygon (J3)** — filter+refine. Polygon *compact covers*
  (driver-side planning over the dims-sized polygon table) split into
  fully-interior and boundary cells; candidates come from one broadcast
  equi-join on ancestor cells (zero shuffle of the fact side), and one
  scalar Arrow UDF filter sees only ``(x, y, poly_idx, is_full)``: it
  passes interior rows and ray-casts boundary rows. At 10^12 rows the
  fact table is never shuffled.
- **kNN (J4)** — k-ring expansion: candidates = equi-join on the exploded
  grid disk of each query cell, distance + ``row_number`` window for top-k,
  driver loop doubles the ring until every query's k-th distance is covered
  by the searched disk (exactness guarantee).
- **Zonal aggregates (J5)** — PIP join then hash aggregate (Spark partial
  aggregation handles most skew; ``salted_repartition`` is the explicit
  escape hatch the north rule requires for dense-cell hotspots).
- **bbox range join (J6)** — made equi by cover cells, refined by the exact
  interval predicate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import _level_spec
from ..functions.cells import (
    _RES_SHIFT,
    pixel_center_mask,
    points_in_polygon,
    polygon_to_cells_classified,
)

_MORTON_MASK = (1 << _RES_SHIFT) - 1


def with_point_cells(points: DataFrame, res: int, world: float) -> DataFrame:
    """Batched cell encoding (north rule J2) — pure JVM column arithmetic.

    Originally a vectorized pandas UDF over ``cells.point_to_cell``; that put
    an ``ArrowEvalPython`` stage in every fact-table scan feeding a spatial
    join (VERDICT r2 #1). The morton interleave has exact JVM twins
    (``grid_coord_cols`` + ``cell_expr``), so the whole encode now stays in
    whole-stage codegen. ``cells.point_to_cell`` remains the numpy-side
    utility (driver planning, tests) and is pinned equal to this expression
    by ``test_with_point_cells_jvm_matches_numpy``.
    """
    ix, iy = grid_coord_cols(res, world)
    return points.withColumn("cell", cell_expr(ix, iy, res))


def _part1by1_expr(c):
    """JVM twin of ``cells._part1by1`` (bit-spread for morton interleave) —
    the same 5-step shift/mask cascade as column expressions, so cell ids
    can be *computed* (not just compared) without leaving codegen."""
    e = c.cast("long").bitwiseAND(F.lit(0x3FFFFFF))
    for sh, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        e = e.bitwiseOR(F.shiftleft(e, sh)).bitwiseAND(F.lit(mask))
    return e


def cell_expr(ix_col, iy_col, res: int):
    """JVM twin of ``cells.xy_to_cell``: grid coords -> cell id, pure column
    arithmetic (used to build join keys from exploded ranges)."""
    return (
        F.lit(res << _RES_SHIFT)
        .bitwiseOR(_part1by1_expr(ix_col))
        .bitwiseOR(F.shiftleft(_part1by1_expr(iy_col), 1))
        .cast("long")
    )


def parent_cell_expr(cell_col: str, from_res: int, to_res: int):
    """JVM-side ancestor arithmetic — no UDF in the join key path."""
    if to_res > from_res:
        raise ValueError("to_res must be <= from_res")
    shift = 2 * (from_res - to_res)
    return (
        F.lit(to_res << _RES_SHIFT)
        + F.shiftright(F.col(cell_col).bitwiseAND(F.lit(_MORTON_MASK)), shift)
    ).cast("long")


def salted_repartition(
    df: DataFrame, key_cols: list[str], buckets: int, salt_col: str | None = None
) -> DataFrame:
    """Explicit skew salting (north rule O11): spread each hot key over
    ``buckets`` partitions. Use before per-key heavy stages
    (applyInPandas over skewed groups); plain algebraic aggs don't need it
    (map-side partial aggregation already absorbs skew).

    The salt must be DETERMINISTIC under task retry (ADVICE r1: a
    ``monotonically_increasing_id`` salt can lose/duplicate rows when a
    stage retries after partial shuffle-fetch failure), so it hashes all
    row columns — or just ``salt_col`` when the caller has a stable row id.
    Rows identical in every column land in the same bucket by necessity;
    pass a distinct ``salt_col`` to spread exact duplicates.
    """
    basis = [F.col(salt_col)] if salt_col else [F.col(c) for c in df.columns]
    salt = F.pmod(F.hash(*basis, F.lit(0x5A17)), F.lit(buckets))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # explicit numPartitions marks the shuffle user-specified so AQE keeps it
    return (
        df.withColumn("_salt", salt)
        .repartition(n, *[F.col(c) for c in key_cols], F.col("_salt"))
        .drop("_salt")
    )


def _covers_df(
    spark: SparkSession, polygons: list[dict], res: int, world: float
) -> tuple[DataFrame, dict[str, list[np.ndarray]], list[int], list[tuple]]:
    """Driver-side planning: compact covers for each polygon (dims-sized).

    Each polygon dict carries its geometry under ``"ring"`` (or the alias
    ``"rings"``) in any ``as_rings`` shape: a single ring, a ring list
    ``[outer, hole, ...]``, or a multipolygon (r7). Cover rows are
    ``(polygon_id, poly_idx, cover_cell, cover_res, is_full)``, where
    ``poly_idx`` is the polygon's ordinal in ``polygons``. The returned
    ringmap maps ``polygon_id`` to its normalized ring LIST (the shape
    ``points_in_polygon`` takes natively), in ordinal order, so
    ``list(ringmap.values())[poly_idx]`` is the same geometry. A repeated
    ``polygon_id`` raises ``ValueError`` before any Spark job: the refines
    would otherwise test one polygon's candidates against another's rings.

    Returns ``(covers, ringmap, ress, rows)``: ``ress`` are the distinct
    cover resolutions and ``rows`` the driver-side cover tuples behind
    ``covers``, so planners that need the cells on the driver (the zonal
    scan ranges) read them here instead of collecting ``covers``."""
    from ..functions.cells import as_rings

    rows = []
    rings: dict[str, list[np.ndarray]] = {}
    for ordinal, p in enumerate(polygons):
        pid = p["polygon_id"]
        if pid in rings:
            raise ValueError(f"duplicate polygon_id {pid!r}")
        geom = rings[pid] = as_rings(p.get("rings", p.get("ring")))
        cells, is_full = polygon_to_cells_classified(geom, res, world)
        for c, f in zip(cells.tolist(), is_full.tolist()):
            rows.append((pid, ordinal, c, c >> _RES_SHIFT, f))
    schema = "polygon_id string, poly_idx int, cover_cell long, cover_res int, is_full boolean"
    covers = spark.createDataFrame(rows, schema)
    ress = sorted({r[3] for r in rows})
    return covers, rings, ress, rows


def _inside_udf(rings: list[list[np.ndarray]]):
    """Scalar Arrow UDF ``inside(x, y, poly_idx, is_full) -> boolean``:
    True for full-cell rows; boundary rows ray-cast, grouped by
    ``poly_idx``, against ``rings[poly_idx]``. Only these four primitive
    columns cross into Python and one boolean per row comes back."""

    @F.pandas_udf("boolean")
    def inside(x: pd.Series, y: pd.Series, poly_idx: pd.Series, is_full: pd.Series) -> pd.Series:
        out = is_full.to_numpy(dtype=bool)
        border = np.flatnonzero(~out)
        if len(border):
            out = out.copy()
            idx = poly_idx.to_numpy()[border]
            bx, by = x.to_numpy()[border], y.to_numpy()[border]
            for pi in np.unique(idx):
                sel = idx == pi
                out[border[sel]] = points_in_polygon(bx[sel], by[sel], rings[pi])
        return pd.Series(out)

    return inside


def point_in_polygon_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[dict],
    res: int,
    world: float,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """J3: (point_id, x, y, polygon_id[, carry...]) pairs — exact even-odd
    semantics.

    points must carry ``cell`` at resolution ``res`` (``with_point_cells``).
    Plan shape: ONE scan of the fact table, broadcast-joined against the
    tiny cover table on each point's ancestor cells at every cover
    resolution, then a filter through the scalar Arrow UDF ``inside``:
    full-cell rows pass as they are, boundary-cell rows are ray-cast.
    Only ``x``, ``y``, ``poly_idx`` and ``is_full`` cross into Python; the
    id and carry columns stay in the JVM. The fact table is never
    shuffled and never ray-casts interior hits.

    ``carry_cols``: extra point columns passed through the join — at scale
    this is how downstream aggregations (zonal_stats) avoid a second join
    against the 10^12-row fact table just to recover their value column.
    """
    # point_id/x/y always pass through — carrying them again would
    # duplicate column names
    carry = [c for c in (carry_cols or []) if c not in ("point_id", "x", "y")]
    covers, rings, ress, _ = _covers_df(spark, polygons, res, world)
    # ONE scan of the fact table: each point explodes its ancestor cell at
    # every distinct cover resolution (1-4 ids) and joins the whole cover
    # table at once — cell ids embed their resolution in the top bits, so
    # cover_cell equality already implies matching resolution, and compact
    # covers are disjoint so no (point, polygon) pair can match twice.
    # (The previous per-resolution union re-scanned the fact side |ress|
    # times — 3-5 scans of a 10^12-row table instead of one.)
    anc = F.array(*[parent_cell_expr("cell", res, r) for r in ress])
    inside = _inside_udf(list(rings.values()))
    return (
        points.select("point_id", "x", "y", *carry, F.explode(anc).alias("jcell"))
        .join(F.broadcast(covers), F.col("jcell") == covers["cover_cell"], "inner")
        .filter(inside("x", "y", "poly_idx", "is_full"))
        .select("point_id", "x", "y", *carry, "polygon_id")
    )


def zonal_stats(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[dict],
    res: int,
    world: float,
    value_col: str = "value",
) -> DataFrame:
    """J5: per-polygon aggregates of a point attribute (count/mean/min/max/sum).

    PIP join (value column carried through — no second join against the
    fact table) -> hash aggregate. Partial (map-side) aggregation makes the
    shuffle carry one row per (partition, polygon) — skew-proof for
    algebraic aggs regardless of hotspot density.
    """
    src = points.select("point_id", "x", "y", "cell", value_col)
    joined = point_in_polygon_join(
        spark, src, polygons, res, world, carry_cols=[value_col]
    )
    return joined.groupBy("polygon_id").agg(
        F.count("*").alias("n"),
        F.avg(value_col).alias("mean_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(value_col).alias("sum_value"),
    )


def grid_coord_cols(res: int, world: float, xcol: str = "x", ycol: str = "y"):
    """JVM-side (ix, iy) grid coordinates at ``res`` — the half-open-cell /
    clamp-at-max-edge semantics of ``cells.point_to_cell``, as pure column
    expressions (floor/least/greatest stay in whole-stage codegen)."""
    n = 1 << res
    scale = float(n) / float(world)
    def enc(c):
        return (
            F.least(F.greatest(F.floor(F.col(c) * F.lit(scale)), F.lit(0)), F.lit(n - 1))
            .cast("int")
        )
    return enc(xcol), enc(ycol)


def _knn_hot_salt(max_cell: int, k: int, budget: int = 65536) -> tuple[int, int]:
    """(hot-cell budget, salt count) for the kNN candidate join
    (VERDICT r4 #6). A cell holding far more points than one task
    comfortably processes makes the equi-join task for that key do
    outsized work (every probing query x every resident point lands on
    ONE partition). Cells above ``budget`` rows get spread over
    ``ceil(max_cell / budget)`` (<=16) salt buckets; anything below keeps
    nsalt=1 and pays nothing beyond one extra scalar in the existing
    count job.

    The default budget is TASK-sized (64k rows ~ a sub-second join
    chunk), not query-sized: the round-5 A/B on a 4096-point corpus with
    a 2048-point hot cell measured salting 1.15x SLOWER than leaving the
    key whole (the hot-list job + exploded probes cost more than the
    imbalance they remove), while the map-side two-phase top-k already
    bounds what crosses the exchange. Salting earns its overhead only
    when one key exceeds task scale — the 10^6-rows-in-one-cell regime."""
    if max_cell <= 2 * budget:
        return budget, 1
    import math

    return budget, int(min(16, math.ceil(max_cell / budget)))


def knn_join(
    spark: SparkSession,
    queries: DataFrame,
    data: DataFrame,
    k: int,
    res: int,
    world: float,
    start_ring: int | None = None,
    max_ring: int | None = None,
    hot_cell_budget: int = 65536,
) -> DataFrame:
    """J4: exact k nearest data points per query via k-ring expansion.

    Driver loop: candidates = equi-join on the exploded grid disk of each
    unresolved query's cell; a query is *settled* once it has >= k
    candidates and its k-th distance is covered by the searched disk
    (``dist_k <= ring * cell_size`` — anything outside the disk is farther).
    Unsettled queries double the ring. Ties broken by (dist, point_id) for
    determinism.

    **Whole key path is JVM-side** (VERDICT r1 #6): the grid disk is two
    ``explode(sequence(-r, r))`` generators over integer grid coords derived
    with floor/least/greatest — no Python eval anywhere before the candidate
    join, so the join keys stay inside whole-stage codegen. The morton cell
    id is not needed for joining; (res, ix, iy) is an equivalent key.

    The big fact side is hash-partitioned once per round and the skew lands
    on the small exploded side where AQE splits it. Per round exactly ONE
    eager materialization (VERDICT r2 #9): the candidate join folds top-k,
    candidate count and k-th distance into a single per-query aggregation
    row that is ``localCheckpoint``-ed once; the settled set, the anti-join
    and the final results are all plan-time filters over that checkpoint.
    The loop-continuation probe is driver-side arithmetic (VERDICT r3 #6):
    ``n_remaining -= settled.count()`` over the already-checkpointed local
    blocks — the queries input is never re-scanned to decide continuation.

    ``start_ring=None`` (default) auto-tunes from data density: the first
    disk is sized so an average query expects ~2.5k candidates, skipping
    the guaranteed-too-small early rounds on sparse data (each skipped
    round is one candidate-join job).
    """
    n = 1 << res
    cell_size = world / n
    max_ring = max_ring or n
    qix, qiy = grid_coord_cols(res, world)
    # dedup on query_id up front: duplicate query rows would double every
    # candidate, letting one neighbor occupy multiple top-k ranks AND
    # settling the query before its true k-th distinct neighbor is covered.
    # min/max-struct agg instead of dropDuplicates (ADVICE r4): the same
    # one-shuffle cost, but deterministic — and a duplicated id carrying
    # CONFLICTING coordinates raises instead of silently answering for an
    # arbitrary one of them (assert_true fires JVM-side on first conflict)
    conflict_guard = F.assert_true(
        F.col("_lo") == F.col("_hi"),
        F.concat(
            F.lit("knn_join: query_id "),
            F.col("query_id").cast("string"),
            F.lit(" appears with conflicting coordinates"),
        ),
    )
    remaining = (
        queries.groupBy(F.col("point_id").alias("query_id"))
        .agg(F.min(F.struct("x", "y")).alias("_lo"), F.max(F.struct("x", "y")).alias("_hi"))
        .select(
            "query_id",
            F.when(conflict_guard.isNull(), F.col("_lo.x")).alias("x"),
            F.col("_lo.y").alias("y"),
        )
        .select("query_id", "x", "y", qix.alias("qix"), qiy.alias("qiy"))
    )
    nix, niy = grid_coord_cols(res, world)
    d = data.select(
        F.col("point_id").alias("n_id"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        nix.alias("nix"),
        niy.alias("niy"),
    )
    # one tiny job fetches all three scalars (union of scalar aggregates):
    # n_remaining drives the continuation probe (post-dedup, one row per
    # query_id — matches settled.count()); n_data the ring auto-tune;
    # max_cell the hot-cell salting decision (VERDICT r4 #6)
    cnt = (
        remaining.agg(F.count("*"))
        .unionAll(d.agg(F.count("*")))
        .unionAll(
            d.groupBy("nix", "niy").agg(F.count("*").alias("c")).agg(F.max("c"))
        )
        .collect()
    )
    n_remaining, n_data = int(cnt[0][0]), int(cnt[1][0])
    max_cell = int(cnt[2][0] or 0)
    hot_budget, nsalt = _knn_hot_salt(max_cell, k, hot_cell_budget)
    hot_pred = None
    if nsalt > 1:
        # spread each hot cell's data rows over nsalt join-key buckets
        # (deterministic hash of the stable point id — the O11
        # salted_repartition contract); query probes targeting a hot cell
        # explode all salts, everything else keeps the single 0 bucket.
        hot = (
            d.groupBy("nix", "niy")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > hot_budget)
            .collect()
        )
        if len(hot) > 512:
            hot_pred = F.lit(True)  # skew everywhere: salt every cell
        else:
            packed = ",".join(str((int(r["nix"]) << 32) | int(r["niy"])) for r in hot)
            hot_pred = F.expr(
                f"(shiftleft(cast(jx as bigint), 32) | cast(jy as bigint)) IN ({packed})"
            )
        d_hot = F.expr(
            f"(shiftleft(cast(nix as bigint), 32) | cast(niy as bigint)) IN ({packed})"
        ) if len(hot) <= 512 else F.lit(True)
        d = d.withColumn(
            "nsalt",
            F.when(d_hot, F.pmod(F.hash("n_id", F.lit(0x5A17)), F.lit(nsalt)))
            .otherwise(F.lit(0)),
        )
    else:
        d = d.withColumn("nsalt", F.lit(0))
    if start_ring is None:
        if n_data == 0:
            start_ring = n  # exact by exhaustion in one round
        else:
            density = n_data / float(n * n)  # points per cell
            # (2r+1)^2 * density >= 2.5k  ->  r
            import math

            start_ring = max(
                1, min(n, math.ceil((math.sqrt(2.5 * k / density) - 1) / 2))
            )
    results: list[DataFrame] = []
    ring = start_ring
    while True:
        offs = F.sequence(F.lit(-ring), F.lit(ring))
        probes = (
            remaining.select("*", F.explode(offs).alias("dx"))
            .select("*", F.explode(offs).alias("dy"))
            .select(
                "query_id", "x", "y",
                (F.col("qix") + F.col("dx")).alias("jx"),
                (F.col("qiy") + F.col("dy")).alias("jy"),
            )
            .where(F.col("jx").between(0, n - 1) & F.col("jy").between(0, n - 1))
        )
        if hot_pred is not None:
            probes = probes.select(
                "*",
                F.explode(
                    F.when(hot_pred, F.sequence(F.lit(0), F.lit(nsalt - 1))).otherwise(
                        F.array(F.lit(0))
                    )
                ).alias("jsalt"),
            )
        else:
            probes = probes.withColumn("jsalt", F.lit(0))
        cand = (
            probes.join(
                d,
                (F.col("jx") == F.col("nix"))
                & (F.col("jy") == F.col("niy"))
                & (F.col("jsalt") == F.col("nsalt")),
                "inner",
            )
            .withColumn(
                "dist",
                F.sqrt(
                    (F.col("x") - F.col("nx")) ** 2 + (F.col("y") - F.col("ny")) ** 2
                ),
            )
        )
        # two-phase top-k: the (query_id, partition) partial aggregation
        # completes map-side, so only <= k survivors per (query, input
        # partition) cross the exchange; the per-query merge then folds
        # top-k + candidate count + k-th distance into ONE row per query —
        # the round's single eager materialization
        local = cand.withColumn("_pid", F.spark_partition_id()).groupBy(
            "query_id", "_pid"
        ).agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("dist", "n_id"))), 1, k
            ).alias("top")
        )
        agg = (
            local.groupBy("query_id")
            .agg(
                F.slice(F.array_sort(F.flatten(F.collect_list("top"))), 1, k).alias("top")
            )
            .select(
                "query_id",
                "top",
                F.size("top").alias("nc"),
                F.element_at("top", F.size("top"))["dist"].alias("dk"),
            )
            .localCheckpoint(eager=True)  # ONE candidate-join run per round
        )
        # settled: k-th neighbor within the guaranteed-covered radius
        # (or the disk already spans the whole world -> exact by exhaustion)
        guaranteed = float(ring) * cell_size
        settled_cond = (
            F.lit(True)
            if ring >= n
            else (F.col("nc") >= k) & (F.col("dk") <= guaranteed)
        )
        settled = agg.where(settled_cond)
        results.append(
            settled.select("query_id", F.posexplode("top").alias("pos", "t")).select(
                "query_id",
                F.col("t.n_id").alias("n_id"),
                F.col("t.dist").alias("dist"),
                (F.col("pos") + 1).cast("int").alias("rank"),
            )
        )
        if ring >= n or ring >= max_ring:
            break
        # continuation probe: pure driver arithmetic over the checkpointed
        # round — counting settled rows touches only local blocks, never
        # the queries input. NOTE: counting UNSETTLED agg rows would be
        # wrong — a query with ZERO candidates this round has no agg row
        # at all but must stay in the loop; the subtraction handles it.
        n_remaining -= settled.count()
        if n_remaining <= 0:
            break
        # plan-only anti-join against the checkpointed settled ids for the
        # next round's query side
        remaining = remaining.join(
            settled.select(F.col("query_id").alias("point_id")),
            remaining["query_id"] == F.col("point_id"),
            "left_anti",
        )
        ring = min(ring * 2, n)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def point_box_join_cells(
    points: DataFrame,
    boxes: DataFrame,
    res: int,
    world: float,
    point_cols: tuple[str, str, str] = ("point_id", "x", "y"),
    box_cols: tuple[str, str, str, str, str] = ("box_id", "qxmin", "qxmax", "qymin", "qymax"),
) -> DataFrame:
    """J6 scale path: point-in-box join for LARGE box *tables* (neither side
    driver-resident, neither side broadcast).

    Each box explodes into its cover cells at ``res`` — two JVM
    ``sequence()`` explodes over its grid-coordinate ranges, morton-encoded
    by ``cell_expr`` — and candidates come from one equi-join on the cell
    id against the point side's cell (computed the same way). The exact
    half-open interval predicate refines. Fan per box = cells covered;
    pick ``res`` so typical boxes span a handful of cells. Compare
    ``bbox_join``: that broadcast nested-loop form is right when boxes are
    dims-sized; this one shuffles on cell and scales with both cardinalities.
    """
    pid, px, py = point_cols
    bid, bx0, bx1, by0, by1 = box_cols
    n = 1 << res
    scale = float(n) / float(world)

    def grid(c, clamp_hi=n - 1):
        return F.least(
            F.greatest(F.floor(c * F.lit(scale)), F.lit(0)), F.lit(clamp_hi)
        ).cast("long")

    p = points.select(
        F.col(pid), F.col(px), F.col(py),
        cell_expr(grid(F.col(px)), grid(F.col(py)), res).alias("_pcell"),
    )
    # half-open boxes: the max edge belongs to the next cell only if the
    # box extends into it, so cover the range [floor(min*s), floor(max*s)]
    b = (
        boxes.select(
            F.col(bid), F.col(bx0), F.col(bx1), F.col(by0), F.col(by1),
            grid(F.col(bx0)).alias("_ix0"), grid(F.col(bx1)).alias("_ix1"),
            grid(F.col(by0)).alias("_iy0"), grid(F.col(by1)).alias("_iy1"),
        )
        .select("*", F.explode(F.sequence(F.col("_ix0"), F.col("_ix1"))).alias("_ix"))
        .select("*", F.explode(F.sequence(F.col("_iy0"), F.col("_iy1"))).alias("_iy"))
        .select(
            bid, bx0, bx1, by0, by1,
            cell_expr(F.col("_ix"), F.col("_iy"), res).alias("_bcell"),
        )
    )
    return (
        p.join(b, p["_pcell"] == b["_bcell"], "inner")
        .where(
            (F.col(px) >= F.col(bx0)) & (F.col(px) < F.col(bx1))
            & (F.col(py) >= F.col(by0)) & (F.col(py) < F.col(by1))
        )
        .select(pid, px, py, bid)
    )


def bbox_join(
    tiles: DataFrame, boxes: DataFrame, res0: int
) -> DataFrame:
    """J6: tile-bbox x query-bbox overlap join.

    Equi part: same-resolution cell prefix (tiles carry ``cell``; boxes carry
    an exploded ``cover_cell`` list at matching resolutions). Here we take
    the simpler exact form usable on dims-sized box sets: broadcast the
    boxes and evaluate the interval predicate JVM-side — Catalyst turns it
    into a BroadcastNestedLoopJoin with a pushed predicate, which is the
    right plan when boxes are small; for large box sets use the cover-cell
    equi path (point_in_polygon_join with rect rings).
    """
    b = F.broadcast(boxes)
    return tiles.join(
        b,
        (tiles["xmin"] < b["qxmax"])
        & (tiles["xmax"] > b["qxmin"])
        & (tiles["ymin"] < b["qymax"])
        & (tiles["ymax"] > b["qymin"]),
        "inner",
    )


def _zonal_candidates(
    spark: SparkSession,
    tiles: DataFrame,
    spec,
    polygons: list[dict],
    res_z: int,
    extra_keys: tuple[str, ...] = (),
    max_pushdown_ranges: int = 64,
):
    """Shared zonal candidate builder: pushed cell-range scan filter +
    broadcast compact-cover join. Returns ``(cand, rings)`` where ``cand``
    carries one row per (tile, polygon-cover hit) with ``is_full`` marking
    interior covers. The cover plan is ``_covers_df``'s, and the scan
    ranges come from the cover rows it holds on the driver, so planning
    runs no Spark job. Used by ``_zonal_over_tiles`` (scalar aggregates)
    and ``_zonal_value_hist`` (value counts)."""
    from ..functions.cells import cell_range

    covers, rings, ress, rows = _covers_df(spark, polygons, res_z, spec.world)

    # driver-side cover -> cell ranges at res_z for the pushed scan filter.
    # The filter is an OPTIMIZATION ONLY (the broadcast cover join is what
    # guarantees exactness), so it may over-approximate: adjacent intervals
    # merge, and when the cover is fragmented the intervals COARSEN to at
    # most ``max_pushdown_ranges`` by closing the smallest Morton gaps — a
    # 497-term OR chain measured ~3.5 s of plan+eval cost at bench scale,
    # while <=64 ranges keep row-group pruning with negligible overhead.
    los, his = cell_range(np.array([r[2] for r in rows], dtype=np.int64), res_z)
    ranges = set(zip(los.tolist(), his.tolist()))
    if ranges and max_pushdown_ranges > 0:
        merged: list[list[int]] = []
        for lo, hi in sorted(ranges):
            if merged and lo <= merged[-1][1] + 1:
                merged[-1][1] = max(hi, merged[-1][1])
            else:
                merged.append([lo, hi])
        while len(merged) > max_pushdown_ranges:
            gaps = [
                (merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)
            ]
            gaps.sort()
            # close the smallest third of the gaps per pass (O(n log n) total)
            for _, i in sorted(gaps[: max(1, len(gaps) // 3)], key=lambda g: -g[1]):
                if i + 1 < len(merged):
                    merged[i][1] = merged[i + 1][1]
                    del merged[i + 1]
                if len(merged) <= max_pushdown_ranges:
                    break
        pred = None
        for lo, hi in merged:
            cnd = F.col("cell").between(F.lit(lo), F.lit(hi))
            pred = cnd if pred is None else (pred | cnd)
        tiles = tiles.where(pred)

    anc = F.array(*[parent_cell_expr("cell", res_z, r) for r in ress])
    keys = list(extra_keys)
    cand = (
        tiles.select(
            *keys, "bytes", "w", "h", "c", "dtype", "vmin", "vmax", "vmean",
            "xmin", "ymin", "xmax", "ymax",
            F.explode(anc).alias("jcell"),
        )
        .join(F.broadcast(covers), F.col("jcell") == covers["cover_cell"], "inner")
    )
    return cand, rings


def _zonal_refine(spark, cand, rings, keys: list[str], kernel, fields: str) -> DataFrame:
    """The one zonal refine stage: one Arrow-batched pass that decodes
    each candidate (tile, polygon) row once, masks it (the whole tile for
    an interior cover, ``pixel_center_mask`` against the polygon's rings
    for a boundary cover) and calls ``kernel(row, arr, mask)``, where
    ``mask`` is None for an interior cover. The kernel returns tuples
    matching the DDL ``fields``; the stage prefixes each with
    ``(polygon_id, *keys)``."""
    from ..functions.codec import decode_tile

    ring_items = sorted(rings.items())
    schema = "polygon_id string" + "".join(f", {k} int" for k in keys) + f", {fields}"
    cols = ["polygon_id", *keys, *(f.split()[0] for f in fields.split(","))]

    def refine(batches):
        ringmap = dict(ring_items)
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)
                mask = None if row.is_full else pixel_center_mask(
                    row.xmin, row.ymin, row.xmax, row.ymax, row.w, row.h,
                    ringmap[row.polygon_id],
                )
                head = (row.polygon_id, *(getattr(row, k) for k in keys))
                out.extend((*head, *t) for t in kernel(row, arr, mask))
            yield pd.DataFrame(out, columns=cols)

    rows = cand.select(
        *keys, "bytes", "w", "h", "c", "dtype", "xmin", "ymin", "xmax", "ymax",
        "polygon_id", "is_full",
    )
    # ray-cast cost is CPU-per-pixel, not bytes: keep the boundary shell
    # spread across tasks instead of letting AQE coalesce by byte size
    rows = rows.repartition(max(spark.sparkContext.defaultParallelism, 8))
    return rows.mapInPandas(refine, schema)


def _plane(arr: np.ndarray) -> np.ndarray:
    """A decoded tile as one float64 plane: multi-channel tiles give their
    channel mean."""
    arr = arr.astype(np.float64, copy=False)
    return arr.mean(axis=2) if arr.ndim == 3 else arr


def _stats_kernel(row, arr, mask):
    """Zonal stats of one masked tile: ``(n, sum, min, max)`` over the
    channel-mean plane, NaN skipped; nothing for an empty mask."""
    plane = _plane(arr)
    valid = ~np.isnan(plane)
    if mask is not None:
        valid &= mask
    n = int(valid.sum())
    if n == 0:
        return ()
    vals = plane[valid]
    return ((n, float(vals.sum()), float(vals.min()), float(vals.max())),)


def _zonal_over_tiles(
    spark: SparkSession,
    tiles: DataFrame,
    spec,
    polygons: list[dict],
    res_z: int,
    extra_keys: tuple[str, ...] = (),
    max_pushdown_ranges: int = 64,
) -> DataFrame:
    """Shared zonal core (flat pyramids and (x, y, t) cubes): filter+refine
    at TILE granularity over any TILE_SCHEMA-shaped DataFrame. See
    ``zonal_raster`` for the three cost tiers; ``extra_keys`` (e.g. ``t``)
    ride through the split, the Arrow refine, and the final group-by."""
    keys = list(extra_keys)
    cand, rings = _zonal_candidates(
        spark, tiles, spec, polygons, res_z, extra_keys, max_pushdown_ranges
    )

    # stats fast path: integer dtype (no NaN possible) AND single-channel —
    # stored vmin/vmax are per-CHANNEL extremes while the decode tier
    # aggregates the per-pixel channel MEAN; mixing the two definitions
    # would corrupt min/max for c>1 (review r6). Width capped at 32 bits
    # (ADVICE r6): the tier recovers the pixel sum as round(vmean·w·h),
    # exact only while the true sum fits a double's 53-bit mantissa —
    # holds for ≤32-bit values × ≤2^16 px/tile (≤2^48), not for
    # int64/uint64 tiles, which route to the decode tier instead.
    meta_only = F.col("is_full") & F.col("dtype").rlike("^u?int(8|16|32)$") & (F.col("c") == 1)
    interior = cand.where(meta_only).select(
        "polygon_id",
        *keys,
        (F.col("w").cast("long") * F.col("h")).alias("n"),
        F.round(F.col("vmean") * F.col("w") * F.col("h")).alias("s"),
        F.col("vmin").alias("mn"),
        F.col("vmax").alias("mx"),
    )
    partials = _zonal_refine(
        spark, cand.where(~meta_only), rings, keys, _stats_kernel,
        "n long, s double, mn double, mx double",
    )
    return (
        interior.unionByName(partials)
        .groupBy("polygon_id", *keys)
        .agg(
            F.sum("n").alias("n_px"),
            F.sum("s").alias("sum_px"),
            F.min("mn").alias("min_px"),
            F.max("mx").alias("max_px"),
        )
        .withColumn("mean_px", F.col("sum_px") / F.col("n_px"))
    )


def zonal_raster(
    spark: SparkSession,
    path: str,
    polygons: list[dict],
    z: int = 0,
    max_pushdown_ranges: int = 64,
) -> DataFrame:
    """Raster zonal statistics: per-polygon aggregates of the PIXELS of a
    built pyramid level — the raster twin of ``zonal_stats`` (reference has
    pyramids and polygons but no raster↔vector analytics; north-star
    "zonal aggregates per polygon" over the tiled pyramid itself).

    Filter+refine at TILE granularity, three cost tiers:

    1. **Pruned scan** — the compact polygon cover (driver-side, dims-sized)
       becomes ``cell BETWEEN lo AND hi`` range predicates at the level's
       cell resolution, pushed into the parquet scan. With the Morton-sorted
       level layout (K3b) this skips whole row groups of non-intersecting
       tiles: the scan is O(cover), not O(level).
    2. **Stats-only interior** — tiles under a FULLY-interior cover cell
       with an integer dtype of WIDTH <= 32 bits contribute ``(w*h,
       round(vmean*w*h), vmin, vmax)`` from their metadata columns alone;
       the column-pruned scan never materializes ``bytes`` for them.
       Exact: integer tiles carry no NaN, the stored mean is sum/(w*h) to
       1 ulp, and round() recovers the integer sum because <=32-bit values
       x <=2^16 px/tile keep the true sum under double's 53-bit mantissa.
       (Float tiles may hide NaN — nanmean loses the count — and
       int64/uint64 sums can exceed 2^53 where the recovery is silently
       off (ADVICE r6), so both route to tier 3.)
    3. **Decode boundary shell** — boundary tiles (and interior float
       tiles) run the shared zonal refine stage (``_zonal_refine``): pixel
       CENTERS ray-cast against the polygon ring (``pixel_center_mask``,
       the even-odd kernel of J3 and of ``rasterize_polygons``), NaNs
       skipped, one partial row per (tile, polygon) into the final hash
       aggregate.

    At scale: tier 3 touches O(perimeter) tiles, tier 2 is metadata-only,
    and the shuffle carries one partial row per (tile, polygon). Returns
    ``(polygon_id, n_px, sum_px, min_px, max_px, mean_px)`` — doubles for
    generality; quantize in the caller for engine-portable hashing.
    Polygons with zero covered pixels produce no row.
    """
    from ..sources.catalog import read_level

    spec = _level_spec(spark, path, z)
    return _zonal_over_tiles(
        spark, read_level(spark, path, z), spec, polygons, spec.cell_res(z),
        max_pushdown_ranges=max_pushdown_ranges,
    )


def zonal_quantiles(
    spark: SparkSession,
    path: str,
    polygons: list[dict],
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    z: int = 0,
    max_pushdown_ranges: int = 64,
    bins: int | None = None,
    vmin: float | None = None,
    vmax: float | None = None,
) -> DataFrame:
    """EXACT per-polygon pixel-value quantiles (median and friends) over
    an INTEGER pyramid level — the order statistic ``zonal_raster``'s
    scalar aggregates cannot express.

    Quantile rule: type-1 (lower): the smallest value ``v`` whose
    cumulative count reaches ``ceil(q * n_px)``. Everything after the
    decode is integer counts + one ``ceil`` of an exactly-representable
    product, so the result is engine-portable bit-for-bit (the DuckDB
    twin runs the same window construction).

    Plan: same pruned-scan + broadcast-cover candidates and refine stage
    as ``zonal_raster`` (``_zonal_candidates``, ``_zonal_refine``), but
    the refine kernel emits per-(polygon, value) COUNTS — bounded by
    occupied values x tiles, never pixels — then one hash aggregate and a
    per-polygon cumulative window over at most |value domain| rows.
    Unlike ``zonal_raster`` there is NO metadata-only interior tier: an
    exact order statistic needs every pixel's value, so interior covers
    decode too (O(area), inherent to exactness). Integer single-channel
    rasters only in the exact mode: floats raise (exact quantiles over
    continuous values would shuffle every distinct pixel).

    **Binned mode** (``bins``/``vmin``/``vmax``, the ``raster_histogram``
    bucket rule: fixed width over ``[vmin, vmax)``, value == vmax lands
    in the last bucket, NaN is nodata, out-of-range pixels dropped):
    works for ANY dtype including floats; the quantile is resolved on
    the bucket index and reported as the bucket's LOWER EDGE in
    ``q*`` plus the index in ``q*_bin`` — a deterministic approximation
    with error <= one bucket width, the 100-TB shape for continuous
    domains.
    """
    from ..sources.catalog import read_level

    qs, labels, bins, lo_b, hi_b = _validate_quantile_args(
        "zonal_quantiles", qs, bins, vmin, vmax
    )
    spec = _level_spec(spark, path, z)
    return _zonal_quantiles_over_tiles(
        spark, read_level(spark, path, z), spec, polygons, spec.cell_res(z),
        qs, labels, (), max_pushdown_ranges, "zonal_quantiles", bins, lo_b, hi_b,
    )


def zonal_quantiles_cube(
    spark: SparkSession,
    path: str,
    polygons: list[dict],
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    z: int = 0,
    max_pushdown_ranges: int = 64,
    bins: int | None = None,
    vmin: float | None = None,
    vmax: float | None = None,
) -> DataFrame:
    """Per-(polygon, t) quantiles over an (x, y, t) cube level — the cube
    twin of ``zonal_quantiles`` exactly as ``zonal_cube`` twins
    ``zonal_raster``: ``t`` rides the refine keys, the histogram
    aggregate, and the per-partition windows; never extra scans."""
    from ..operators.cube import read_cube_level

    qs, labels, bins, lo_b, hi_b = _validate_quantile_args(
        "zonal_quantiles_cube", qs, bins, vmin, vmax
    )
    spec = _level_spec(spark, path, z)
    return _zonal_quantiles_over_tiles(
        spark, read_cube_level(spark, path, z), spec, polygons,
        spec.cell_res(z), qs, labels, ("t",), max_pushdown_ranges,
        "zonal_quantiles_cube", bins, lo_b, hi_b,
    )


def zonal_categorical(
    spark: SparkSession,
    path: str,
    polygons: list[dict],
    z: int = 0,
    max_pushdown_ranges: int = 64,
) -> DataFrame:
    """Per-polygon CATEGORICAL statistics over an integer pyramid level —
    the ArcGIS/``exactextract`` majority/minority/variety family that
    ``zonal_raster``'s scalar aggregates cannot express:

    - ``variety``: number of distinct pixel values inside the polygon,
    - ``majority`` / ``majority_n``: the most frequent value and its
      count — ties break to the LOWEST value (the engine's ESALC-mode
      reducer convention, ``functions/reducers.py``),
    - ``minority`` / ``minority_n``: the least frequent, same tie rule,
    - ``n_px``: total pixels.

    Plan: the shared ``_zonal_value_hist`` refine (pruned scan, per-
    (polygon, value) count partials — shuffle bounded by occupied values
    x tiles), then ONE hash aggregate: majority = argmax over (n, -value)
    structs, minority = argmin over (n, value) structs — no window pass
    at all (cheaper than the quantile twin). Integer single-channel
    rasters only (categorical semantics); floats raise in the refine.

    Reference parity note: PyramidScheme.jl's ESALCMode reducer
    (ext/PyramidSchemeArchGDALExt.jl) IS per-block majority — this is
    the vector-zone generalization, north-rule surface.
    """
    from ..sources.catalog import read_level

    spec = _level_spec(spark, path, z)
    hist = _zonal_value_hist(
        spark, read_level(spark, path, z), spec, polygons, spec.cell_res(z),
        (), max_pushdown_ranges, "zonal_categorical", None, 0.0, 0.0,
    )
    # majority: lexicographic max of (n, -value) -> highest count, lowest
    # value on ties; minority: min of (n, value). Struct min/max keeps it
    # a single codegen'd aggregate (no window, no second shuffle).
    return hist.groupBy("polygon_id").agg(
        F.sum("n").alias("n_px"),
        F.count("value").alias("variety"),
        F.expr("max(struct(n, -value AS nv)).nv * -1").alias("majority"),
        F.expr("max(struct(n, -value AS nv)).n").alias("majority_n"),
        F.expr("min(struct(n, value)).value").alias("minority"),
        F.expr("min(struct(n, value)).n").alias("minority_n"),
    )


def _bin_args(op: str, bins, vmin, vmax) -> tuple[int | None, float, float]:
    """The one bins check of the binned modes: ``(bins, lo, hi)``, or
    ``(None, 0.0, 0.0)`` when ``bins`` is None (the exact mode)."""
    if bins is None:
        return None, 0.0, 0.0
    if vmin is None or vmax is None or not (float(vmax) > float(vmin)):
        raise ValueError(f"binned {op} needs vmin < vmax")
    bins = int(bins)
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    return bins, float(vmin), float(vmax)


def _value_counts(flat: np.ndarray, op: str, nb, lo: float, hi: float):
    """``np.unique`` counts of a pixel array: exact values (integer
    rasters only, else ``ValueError`` naming ``op``) or, with ``nb``, the
    one bucket rule of ``raster_histogram`` and the binned zonal
    statistics: the GDAL fixed-width rule ``floor((x - lo) * nb / (hi -
    lo))`` over ``[lo, hi)``, a value equal to ``hi`` in the last bucket,
    NaN (nodata) and out-of-range pixels dropped."""
    if nb is None:
        if not np.issubdtype(flat.dtype, np.integer):
            raise ValueError(
                f"exact {op} needs an integer raster, got dtype "
                f"{flat.dtype.name!r}; pass bins/vmin/vmax for the binned mode"
            )
        return np.unique(flat, return_counts=True)
    x = flat.astype(np.float64)
    x = x[np.isfinite(x)]
    idx = np.floor((x - lo) * nb / (hi - lo)).astype(np.int64)
    idx[x == hi] = nb - 1
    return np.unique(idx[(idx >= 0) & (idx < nb)], return_counts=True)


def _validate_quantile_args(op, qs, bins, vmin, vmax):
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 < float(q) <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    labels = [f"q{int(round(float(q) * 1000)):03d}" for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantiles collide at 1/1000 resolution: {qs}")
    return (qs, labels, *_bin_args(op, bins, vmin, vmax))


def _zonal_value_hist(
    spark, tiles, spec, polygons, res_z,
    extra_keys: tuple[str, ...], max_pushdown_ranges, op, nb, lo_b, hi_b,
) -> DataFrame:
    """Shared core of the order/frequency statistics zonal ops
    (``zonal_quantiles``, ``zonal_categorical``): the zonal refine stage
    with a value-count kernel — per-(polygon[, t], value) pixel COUNTS
    over a pruned tile scan, shuffle bounded by occupied values x tiles,
    never pixels. Single-channel integer rasters only, unless
    ``nb``/``lo_b``/``hi_b`` switch on the ``raster_histogram`` bucket
    rule (``_value_counts``); errors name the calling operator ``op``."""
    keys = list(extra_keys)
    cand, rings = _zonal_candidates(
        spark, tiles, spec, polygons, res_z, extra_keys,
        max_pushdown_ranges=max_pushdown_ranges,
    )

    def counts(row, arr, mask):
        if row.c != 1:
            raise ValueError(f"{op} needs single-channel rasters, got c={row.c}")
        vals, cnts = _value_counts(
            arr.ravel() if mask is None else arr[mask], op, nb, lo_b, hi_b
        )
        return zip(vals.tolist(), cnts.tolist())

    parts = _zonal_refine(spark, cand, rings, keys, counts, "value long, n long")
    return parts.groupBy("polygon_id", *keys, "value").agg(F.sum("n").alias("n"))


def _zonal_quantiles_over_tiles(
    spark, tiles, spec, polygons, res_z, qs, labels,
    extra_keys: tuple[str, ...], max_pushdown_ranges, op, nb, lo_b, hi_b,
) -> DataFrame:
    from pyspark.sql import Window

    keys = list(extra_keys)
    grp = ["polygon_id", *keys]
    hist = _zonal_value_hist(
        spark, tiles, spec, polygons, res_z, extra_keys,
        max_pushdown_ranges, op, nb, lo_b, hi_b,
    )
    cum_w = (
        Window.partitionBy(*grp)
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy(*grp)
    h2 = hist.withColumn("cum", F.sum("n").over(cum_w)).withColumn(
        "total", F.sum("n").over(tot_w)
    )
    qaggs = [
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.lit(float(q)) * F.col("total")).cast("long"),
                F.col("value"),
            )
        ).alias(lab)
        for q, lab in zip(qs, labels)
    ]
    res = h2.groupBy(*grp).agg(F.max("total").alias("n_px"), *qaggs)
    if nb is None:
        return res
    w_b = (hi_b - lo_b) / nb
    return res.select(
        *grp,
        "n_px",
        *[
            c
            for lab in labels
            for c in (
                (F.lit(lo_b) + F.col(lab) * F.lit(w_b)).alias(lab),
                F.col(lab).cast("int").alias(f"{lab}_bin"),
            )
        ],
    )


def zonal_cube(
    spark: SparkSession,
    path: str,
    polygons: list[dict],
    z: int = 0,
    max_pushdown_ranges: int = 64,
) -> DataFrame:
    """Per-(polygon, t) zonal statistics over an (x, y, t) cube level —
    ``zonal_raster`` with the time dimension riding through the tile
    split, the Arrow refine, and the final hash aggregate (one partial row
    per (tile, t, polygon); the t axis adds keys, never extra scans)."""
    from ..operators.cube import read_cube_level

    spec = _level_spec(spark, path, z)
    tiles = read_cube_level(spark, path, z)
    return _zonal_over_tiles(
        spark, tiles, spec, polygons, spec.cell_res(z), extra_keys=("t",),
        max_pushdown_ranges=max_pushdown_ranges,
    )


_SAMPLES_DDL = "point_id string, x double, y double, value double"


def _sample_points(plane: np.ndarray, ext, pts: pd.DataFrame) -> pd.DataFrame:
    """The one point-sampling kernel of ``raster_extract``: the points of
    ``pts`` (point_id, x, y) that fall on a tile with extent ``ext``, with
    ``value``, the ``plane`` pixel under each (``floor((p - min) / pixel
    size)`` indexing; points off the tile drop)."""
    xmin, ymin, xmax, ymax = ext
    h, w = plane.shape
    px, py = pts["x"].to_numpy(), pts["y"].to_numpy()
    ix = np.floor((px - xmin) / ((xmax - xmin) / w)).astype(np.int64)
    iy = np.floor((py - ymin) / ((ymax - ymin) / h)).astype(np.int64)
    ok = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
    return pd.DataFrame({
        "point_id": pts["point_id"].to_numpy()[ok],
        "x": px[ok],
        "y": py[ok],
        "value": plane[iy[ok], ix[ok]],
    })


def _concat_samples(outs: list[pd.DataFrame]) -> pd.DataFrame:
    if outs:
        return pd.concat(outs, ignore_index=True)
    return pd.DataFrame({"point_id": [], "x": [], "y": [], "value": []})


def raster_extract(
    spark: SparkSession,
    path: str,
    points: DataFrame,
    z: int = 0,
    max_pushdown_cells: int = 4096,
    hot_cell_budget: int = 65536,
    broadcast_tiles_max: int = 64,
) -> DataFrame:
    """Raster point extraction: the pyramid level's pixel value at each
    point location (the terra/rasterio ``extract`` analog) —
    ``(point_id, x, y, value)``, one row per point that lands on stored
    data; points outside the base extent (or on NaN-free padding) drop.

    Plan shape, built for a 10^12-point fact side:

    - points get their level-z TILE cell as a pure-JVM Morton expression
      (``grid_coord_cols`` + ``cell_expr``: floor/shift arithmetic in
      whole-stage codegen), then pre-aggregate to one row per touched
      (cell, salt bucket). Unlike a tile's pixel payload (capped at
      tilesize^2), the point list per cell is UNBOUNDED under skew —
      10^9 points in one tile would make one giant ``collect_list`` row
      (VERDICT r6 #2) — so cells counted above ``hot_cell_budget``
      points split over <=16 deterministic hash-salt buckets (the J4
      hot-salt trigger math): each gather row stays task-sized, the hot
      tile decodes once per bucket (bounded x16), everything else keeps
      salt 0 and pays nothing. The count rides the existing probe job
      when the touched-cell set is small;
    - the tile side joins on cell — ONE tile row meets ONE point-list
      row, so tile ``bytes`` are never duplicated per point;
    - when the touched-cell count is small (<= ``max_pushdown_cells``)
      the keys-only list pushes into the parquet scan as an IN filter
      (row-group pruning via the Morton layout, K3b) — the common
      sparse-probe case reads O(touched tiles), not O(level);
    - one Arrow stage decodes each tile once and gathers all its points
      vectorized (multi-channel tiles gather the channel mean).
    """
    from ..functions.codec import decode_tile
    from ..sources.catalog import read_level

    spec = _level_spec(spark, path, z)
    res_z = spec.cell_res(z)
    ex, ey = grid_coord_cols(res_z, spec.world)
    keyed = points.select(
        "point_id", "x", "y", cell_expr(ex, ey, res_z).alias("cell")
    )

    tiles = read_level(spark, path, z).select(
        "cell", "bytes", "w", "h", "c", "dtype", "xmin", "ymin", "xmax", "ymax"
    )
    # keys-only probe, ONE job, now with per-cell counts: the same job
    # feeds the IN-pushdown list AND the hot-cell salting decision. A
    # truncated result means the probe set is large — skip pushdown and
    # find hot cells with a dedicated (count > budget) job instead.
    counts = keyed.groupBy("cell").agg(F.count("*").alias("c"))
    probe = counts.limit(max_pushdown_cells + 1).collect()
    if 0 < len(probe) <= max_pushdown_cells:
        tiles = tiles.where(F.col("cell").isin([r["cell"] for r in probe]))
        # broadcast-tiles fast path (guide §3.1 shape, r9): when the probe
        # touches only a handful of tiles, the collect_list gather plan
        # caps parallelism at ONE fat row per (cell, salt) and shuffles
        # every point — inverted, the tiny tile set rides a python-side
        # broadcast into a mapInPandas over the RAW point scan: zero
        # shuffles, zero joins, full scan parallelism, each task decodes
        # each tile once (<= broadcast_tiles_max tiles x tile bytes held
        # per task). Never triggers on real mosaic probes (cell count
        # above the bound) — those keep the one-tile-row-per-cell join
        # that never duplicates tile bytes. 6.7 -> ~2 s on a 200k-point /
        # 4-tile extract, identical rows.
        if len(probe) <= broadcast_tiles_max:
            bc = spark.sparkContext.broadcast({
                int(t["cell"]): (
                    (bytes(t["bytes"]), int(t["h"]), int(t["w"]), t["dtype"], int(t["c"])),
                    (float(t["xmin"]), float(t["ymin"]), float(t["xmax"]), float(t["ymax"])),
                )
                for t in tiles.collect()
            })

            def gather_bcast(batches):
                planes = {}  # each task decodes each tile once
                for pdf in batches:
                    outs = []
                    for cell, grp in pdf.groupby("cell", sort=False):
                        tile = bc.value.get(int(cell))
                        if tile is None:
                            continue
                        if cell not in planes:
                            planes[cell] = _plane(decode_tile(*tile[0]))
                        outs.append(_sample_points(planes[cell], tile[1], grp))
                    yield _concat_samples(outs)

            return keyed.mapInPandas(gather_bcast, _SAMPLES_DDL)
        hot = [(int(r["cell"]), int(r["c"])) for r in probe if r["c"] > hot_cell_budget]
    else:
        hot = [
            (int(r["cell"]), int(r["c"]))
            for r in counts.where(F.col("c") > hot_cell_budget).limit(513).collect()
        ]
    salt = F.lit(0)
    if hot:
        import math

        if len(hot) <= 512:
            nsalt = min(16, math.ceil(max(c for _, c in hot) / hot_cell_budget))
            packed = ",".join(str(c) for c, _ in hot)
            salt = F.when(
                F.expr(f"cell IN ({packed})"),
                F.pmod(F.hash("point_id"), F.lit(int(nsalt))),
            ).otherwise(F.lit(0))
        else:
            # skew everywhere: salt every cell (one extra scalar job for
            # the global max — the rare heavy-skew regime can afford it)
            mx = int(counts.agg(F.max("c")).collect()[0][0] or 0)
            nsalt = min(16, math.ceil(max(mx, 1) / hot_cell_budget))
            salt = F.pmod(F.hash("point_id"), F.lit(int(nsalt)))
    grouped = keyed.groupBy("cell", salt.alias("_salt")).agg(
        F.collect_list(F.struct("point_id", "x", "y")).alias("pts")
    )

    joined = tiles.join(grouped, "cell").repartition(
        max(spark.sparkContext.defaultParallelism, 8)
    )  # gather cost scales with points-per-tile, not row bytes — keep spread

    def gather(batches):
        for pdf in batches:
            yield _concat_samples([
                _sample_points(
                    _plane(decode_tile(row.bytes, row.h, row.w, row.dtype, row.c)),
                    (row.xmin, row.ymin, row.xmax, row.ymax),
                    pd.DataFrame.from_records(list(row.pts), columns=["point_id", "x", "y"]),
                )
                for row in pdf.itertuples(index=False)
            ])

    return joined.mapInPandas(gather, _SAMPLES_DDL)
