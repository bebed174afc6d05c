"""Raster -> region table: connected-component labeling of equal-valued
pixel regions over a stored pyramid level (the analytics half of GDAL
``polygonize`` / ArcGIS Region Group).

The reference has no raster->vector arrow at all (PyramidScheme.jl serves
pixels; src/PyramidScheme.jl:447-467); this is north-rule surface —
``rasterize_polygons`` burns vectors in, ``region_label`` reads regions
back out, and the pair closes the raster<->vector loop.

Spark-first shape (the reason this works at 10^12 pixels):

1. ONE tile scan (``_resolved_regions``, checkpointed — the only place a
   tile is decoded and labeled); per tile a run-based union-find labels
   local components (rows decompose into maximal equal-value runs;
   vertically overlapping runs of equal value union — 4- or
   8-connectivity). Each local component gets a provisional label that
   is GLOBALLY canonical without any coordination: the row-major global
   index of its first pixel.
2. The same pass emits, per tile, exactly the rows its caller reads:
   (a) piece rows ``(label, value, n, x0, y0, x1, y1, dtype)`` — one per
   local component for the region table and the adjacency graph, or one per
   RUN (a one-row piece: skinny, runs not pixels) for the operators that
   place pixels (labeled raster, sieve, stats); (b) one strip row per
   tile edge (positions, values, labels of the edge pixels — arrays, so
   the shuffle carries one row per tile edge, ~2/tilesize of the pixel
   volume, the focal-halo budget); (c) only when asked, in-tile contact
   rows ``(la, lb, n)`` for the adjacency graph.
3. Facing strips meet in one equi-join on ``(ekey, pos)``
   (``_facing_pairs``); equal values at touching positions become
   label-equivalence edges, and the same pairs give the cross-tile
   contacts and the cross-seam internal edges. (8-connectivity adds the
   four corner pixels to per-corner keys for the two diagonal pairs a
   vertical/horizontal strip cannot see.)
4. The equivalence graph resolves two-tier: dims-sized edge lists (the
   common case — one edge per component pair meeting at a boundary)
   collect behind a limit guard into a driver union-find;
   cluster-sized graphs fall back to ``dedup.connected_components``
   (min-label + pointer doubling, O(log diameter) rounds, count-only
   driver traffic) — a region snaking across thousands of tiles costs
   log rounds, not length rounds.
5. Final labels join back to the pieces (``_resolve_col``, a left join:
   components with no cross-tile edge keep their provisional label);
   one hash aggregate emits the region table, or one per-tile run
   painter (``_paint_runs``) writes a raster.

Labels are deterministic and meaningful: ``region_id`` is the row-major
global pixel index of the region's first (topmost, then leftmost) pixel.
NaN pixels are nodata and belong to no region. Values compare by exact
float equality (regions are equal-VALUE sets; quantize upstream if you
need tolerance-based segmentation).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..api import _level_spec
from ..functions.codec import decode_tile
from ..plans.grid import level_shape

#: union row schema for the single-scan emit: piece rows (kind 0: one
#: local component, or one run, with its source tile's dtype) fill the
#: first block, strip rows (kind 1) the arrays, in-tile contact rows
#: (kind 2, emitted only when the scan is asked for them) use (label=la,
#: lb, n=4-adjacent pixel pairs)
_SCAN_SCHEMA = (
    "kind int, label long, value double, n long, "
    "x0 long, y0 long, x1 long, y1 long, lb long, "
    "ekey string, side int, pos array<long>, vals array<double>, labels array<long>, "
    "dtype string"
)
_PIECE_COLS = ("label", "value", "n", "x0", "y0", "x1", "y1", "dtype")


def _label_tile(a: np.ndarray, eight: bool = False):
    """Run-based union-find over one tile (4-connectivity; ``eight``
    widens the vertical overlap test by one column each side, which IS
    8-connectivity for runs).

    Returns ``(runs, root)``: ``runs`` is an int64 array of shape (R, 4)
    with columns (row, c0, c1, run_id) — c1 exclusive — over VALID
    (non-NaN) pixels only, and ``root`` maps run_id -> component root
    run_id. Pure numpy run extraction; the union loop is O(runs), not
    O(pixels).
    """
    h, w = a.shape
    slack = 1 if eight else 0
    valid = ~np.isnan(a)
    parent = np.arange(h * w, dtype=np.int64)  # upper bound: one run per px

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    runs = []
    rid = 0
    prev = []  # (c0, c1, value, run_id) of the previous row
    for r in range(h):
        row_valid = valid[r]
        if not row_valid.any():
            prev = []
            continue
        v = a[r]
        # run boundaries: validity changes or value changes between
        # consecutive valid pixels
        brk = np.empty(w, dtype=bool)
        brk[0] = True
        brk[1:] = (row_valid[1:] != row_valid[:-1]) | (
            row_valid[1:] & row_valid[:-1] & (v[1:] != v[:-1])
        )
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], w)
        cur = []
        j = 0  # sweep pointer into prev (both run lists are sorted by c0)
        for c0, c1 in zip(starts.tolist(), ends.tolist()):
            if not row_valid[c0]:
                continue
            val = v[c0]
            me = rid
            rid += 1
            runs.append((r, c0, c1, me))
            # union with overlapping same-value runs of the previous row
            lo = c0 - slack
            hi = c1 + slack
            while j < len(prev) and prev[j][1] <= lo:
                j += 1
            k = j
            while k < len(prev) and prev[k][0] < hi:
                if prev[k][2] == val:
                    ra, rb = find(me), find(prev[k][3])
                    if ra != rb:
                        # root = smaller run id = earlier first pixel
                        if ra < rb:
                            parent[rb] = ra
                        else:
                            parent[ra] = rb
                k += 1
            cur.append((c0, c1, val, me))
        prev = cur
    if not runs:
        return np.empty((0, 4), dtype=np.int64), parent
    rr = np.asarray(runs, dtype=np.int64)
    root = np.array([find(int(i)) for i in rr[:, 3]], dtype=np.int64)
    return rr, root


def _tile_contacts(rr: np.ndarray, root: np.ndarray) -> dict:
    """4-adjacent pixel-pair counts between DIFFERENT components of one
    tile, keyed by (root_a, root_b): vertical = column overlap of runs in
    consecutive rows, horizontal = one pair per touching run break. O(runs)
    two-pointer sweep (runs arrive row-major)."""
    acc: dict[tuple[int, int], int] = {}
    n = rr.shape[0]
    i = 0
    prev: list[int] = []  # indices of the previous row's runs
    while i < n:
        r = rr[i, 0]
        j = i
        while j < n and rr[j, 0] == r:
            j += 1
        cur = list(range(i, j))
        # horizontal: consecutive runs touching => different value => pair
        for a, b in zip(cur, cur[1:]):
            if rr[a, 2] == rr[b, 1]:
                ra, rb = int(root[a]), int(root[b])
                k = (min(ra, rb), max(ra, rb))
                acc[k] = acc.get(k, 0) + 1
        # vertical: overlap sweep against the previous row (if adjacent)
        if prev and rr[prev[0], 0] == r - 1:
            p = 0
            for c in cur:
                c0, c1 = int(rr[c, 1]), int(rr[c, 2])
                while p < len(prev) and rr[prev[p], 2] <= c0:
                    p += 1
                q = p
                while q < len(prev) and rr[prev[q], 1] < c1:
                    ov = min(c1, int(rr[prev[q], 2])) - max(c0, int(rr[prev[q], 1]))
                    if ov > 0:
                        ra, rb = int(root[c]), int(root[prev[q]])
                        if ra != rb:
                            k = (min(ra, rb), max(ra, rb))
                            acc[k] = acc.get(k, 0) + ov
                    q += 1
        prev = cur
        i = j
    return acc


def _scan_gen(ts: int, W: int, eight: bool, runs: bool, contacts: bool):
    def gen(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                a = decode_tile(row.bytes, row.h, row.w, row.dtype,
                                getattr(row, "c", 1)).astype(np.float64)
                if a.ndim == 3:
                    raise ValueError("region_label expects single-band rasters")
                tx, ty = int(row.tx), int(row.ty)
                gx0, gy0 = tx * ts, ty * ts
                rr, root = _label_tile(a, eight)
                if rr.shape[0] == 0:
                    continue
                h, w = a.shape
                # provisional label: global pixel index of the component's
                # first pixel, i.e. the START of its root run (the root is
                # the smallest run id, and run ids are row-major)
                gidx = (rr[:, 0] + gy0) * W + (rr[:, 1] + gx0)
                lab = gidx[root]
                vals = a[rr[:, 0], rr[:, 1]]
                gy = rr[:, 0] + gy0
                pieces = pd.DataFrame({
                    "label": lab, "value": vals, "n": rr[:, 2] - rr[:, 1],
                    "x0": rr[:, 1] + gx0, "y0": gy, "x1": rr[:, 2] - 1 + gx0,
                    "y1": gy,
                })
                if not runs:  # per-component partials (one pandas groupby)
                    pieces = pieces.groupby("label", as_index=False).agg(
                        value=("value", "min"), n=("n", "sum"),
                        x0=("x0", "min"), y0=("y0", "min"),
                        x1=("x1", "max"), y1=("y1", "max"),
                    )
                for p in pieces.itertuples(index=False):
                    out.append((0, int(p.label), float(p.value), int(p.n),
                                int(p.x0), int(p.y0), int(p.x1), int(p.y1),
                                None, None, None, None, None, None, row.dtype))

                if contacts:
                    # in-tile 4-contact pairs on provisional labels
                    for (ra, rb), wgt in _tile_contacts(rr, root).items():
                        la_, lb_ = sorted((int(gidx[ra]), int(gidx[rb])))
                        out.append((2, la_, None, int(wgt), None, None, None,
                                    None, lb_, None, None, None, None, None, None))

                def strip(ekey, side, pos, vv, ls):
                    if len(pos):
                        out.append((1, None, None, None, None, None, None,
                                    None, None, ekey, side, pos.tolist(),
                                    vv.tolist(), ls.tolist(), None))

                for col, ekey, side in ((w - 1, f"v:{tx + 1}:{ty}", 0),
                                        (0, f"v:{tx}:{ty}", 1)):
                    sel = (rr[:, 1] <= col) & (rr[:, 2] > col)
                    strip(ekey, side, rr[sel, 0] + gy0, a[rr[sel, 0], col], lab[sel])
                for r_, ekey, side in ((h - 1, f"h:{tx}:{ty + 1}", 0),
                                       (0, f"h:{tx}:{ty}", 1)):
                    # the edge row's runs, expanded to its valid pixels
                    sel = rr[:, 0] == r_
                    n = rr[sel, 2] - rr[sel, 1]
                    strip(ekey, side, np.flatnonzero(~np.isnan(a[r_])) + gx0,
                          np.repeat(vals[sel], n), np.repeat(lab[sel], n))
                if eight:
                    # corner pixels -> per-DIAGONAL pseudo edge keys (pos=0
                    # both sides), so the corner diagonals the strips cannot
                    # see ride the SAME (ekey, pos) equi-join as everything
                    # else: "cd" pairs TL-BR, "ce" pairs TR-BL of a corner
                    for r_, c_, ekey, side in (
                        (h - 1, w - 1, f"cd:{tx + 1}:{ty + 1}", 0),  # TL of corner
                        (0, 0, f"cd:{tx}:{ty}", 1),                  # BR of corner
                        (h - 1, 0, f"ce:{tx}:{ty + 1}", 0),          # TR of corner
                        (0, w - 1, f"ce:{tx + 1}:{ty}", 1),          # BL of corner
                    ):
                        sel = (rr[:, 0] == r_) & (rr[:, 1] <= c_) & (rr[:, 2] > c_)
                        strip(ekey, side, np.zeros(sel.sum(), dtype=np.int64),
                              a[rr[sel, 0], c_], lab[sel])
            cols = ["kind", "label", "value", "n", "x0", "y0", "x1", "y1",
                    "lb", "ekey", "side", "pos", "vals", "labels", "dtype"]
            yield pd.DataFrame(out, columns=cols)

    return gen


def _facing_pairs(scan: DataFrame, diagonal: bool = False) -> DataFrame:
    """Facing pixel pairs across tile seams, ``(ekey, pos, val, lab,
    val_b, lab_b)`` on PROVISIONAL labels — the one strip join behind the
    stitch edges, the cross-tile contacts and the cross-seam internal
    edges, entirely JVM-side: the kind-1 strips explode to skinny
    (ekey, side, pos, val, lab) rows (the volume stays ~2/tilesize of the
    pixels) and facing sides meet in ONE equi-join on (ekey, pos) — no
    second python stage (two chained pandas stages run two python
    workers per task, a measured cost), and the whole match is
    codegen'd. ``diagonal=False`` gives the 4-adjacent pairs only (corner
    pseudo-keys dropped); ``diagonal=True`` (8-connectivity stitching)
    probes pos -1/0/+1 on the side-0 arm (diagonals across a strip), and
    the corner diagonals arrive as their own pseudo keys with pos=0."""
    src = scan.where(F.col("kind") == 1)
    if not diagonal:
        src = src.where(~F.col("ekey").startswith("c"))
    s = src.select(
        "ekey", "side", F.explode(F.arrays_zip("pos", "vals", "labels")).alias("e")
    ).select(
        "ekey", "side", F.col("e.pos").alias("pos"),
        F.col("e.vals").alias("val"), F.col("e.labels").alias("lab"),
    )
    a = s.where(F.col("side") == 0).drop("side")
    if diagonal:
        # corner pseudo-keys must NOT probe +-1 (their pos is a constant 0,
        # not a coordinate): keep exact for them, explode for strips
        p = F.col("pos")
        a = a.withColumn("pos", F.explode(
            F.when(F.col("ekey").startswith("c"), F.array(p))
            .otherwise(F.array(p - 1, p, p + 1))
        ))
    b = s.where(F.col("side") == 1).select(
        "ekey", "pos", F.col("val").alias("val_b"), F.col("lab").alias("lab_b")
    )
    return a.join(b, ["ekey", "pos"])


def _resolved_regions(spark, path, z, connectivity, driver_resolve_max_edges,
                      *, runs: bool, contacts: bool):
    """Shared front half of the region family: the checkpointed scan
    (piece rows per component, or per run with ``runs``; in-tile contact
    rows with ``contacts``), stitch edges, component resolve. Returns
    ``(scan, comp, (lw, lh), tilesize)``."""
    from ..operators.dedup import connected_components
    from ..sources.catalog import read_level

    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    eight = connectivity == 8
    spec = _level_spec(spark, path, z)
    lw, lh = level_shape((spec.base_w, spec.base_h), z)
    scan = read_level(spark, path, z).mapInPandas(
        _scan_gen(spec.tilesize, lw, eight, runs, contacts), _SCAN_SCHEMA
    ).localCheckpoint(eager=True)
    edges = (
        _facing_pairs(scan, diagonal=eight)
        .where((F.col("val") == F.col("val_b")) & (F.col("lab") != F.col("lab_b")))
        .select(F.least("lab", "lab_b").alias("id_a"),
                F.greatest("lab", "lab_b").alias("id_b"))
        .distinct()
    )
    comp = connected_components(
        edges, driver_resolve_max_edges=driver_resolve_max_edges
    )
    return scan, comp, (lw, lh), spec.tilesize


def _pieces(scan: DataFrame) -> DataFrame:
    return scan.where(F.col("kind") == 0).select(*_PIECE_COLS)


def _resolve_col(df, comp, col: str, out: str):
    """LEFT-join a provisional-label column against the component map."""
    c = comp.select(F.col("id").alias(f"__i_{col}"),
                    F.col("component").alias(f"__c_{col}"))
    return df.join(c, df[col] == c[f"__i_{col}"], "left").select(
        *[x for x in df.columns if x != col],
        F.coalesce(f"__c_{col}", col).alias(out),
    )


def _region_rows(pieces: DataFrame, comp: DataFrame, *extra) -> DataFrame:
    """The region table ``(region_id, value, n_px, xmin, ymin, xmax,
    ymax, *extra)``: pieces resolved to final labels, one hash
    aggregate."""
    return _resolve_col(pieces, comp, "label", "region_id").groupBy(
        "region_id"
    ).agg(
        F.min("value").alias("value"),
        F.sum("n").alias("n_px"),
        F.min("x0").alias("xmin"),
        F.min("y0").alias("ymin"),
        F.max("x1").alias("xmax"),
        F.max("y1").alias("ymax"),
        *extra,
    )


def _adjacency(scan: DataFrame, comp: DataFrame) -> DataFrame:
    """``(rid_a, rid_b, contact)``: in-tile contact rows (kind 2) plus one
    row per cross-tile 4-adjacent pair (no value filter — different-value
    neighbors are exactly the contacts), both resolved to final labels;
    same-component pairs (merged same-value neighbors) drop out, one hash
    aggregate sums the weights."""
    incell = scan.where(F.col("kind") == 2).select(
        F.col("label").alias("la"), F.col("lb"), F.col("n").alias("w")
    )
    cross = _facing_pairs(scan).select(
        F.col("lab").alias("la"), F.col("lab_b").alias("lb"),
        F.lit(1).cast("long").alias("w"),
    )
    allc = _resolve_col(incell.unionByName(cross), comp, "la", "fa")
    allc = _resolve_col(allc, comp, "lb", "fb")
    return (
        allc.where(F.col("fa") != F.col("fb"))
        .select(F.least("fa", "fb").alias("rid_a"),
                F.greatest("fa", "fb").alias("rid_b"), "w")
        .groupBy("rid_a", "rid_b")
        .agg(F.sum("w").alias("contact"))
    )


def _paint_runs(runs: DataFrame, col: str, fill, dtype, shape, ts: int):
    """One TILE_SCHEMA tile per touched tile from run rows: a ``fill``
    plane on which every run paints its ``col`` value, cast to ``dtype``
    (``None``: the source tile's dtype, from the runs' ``dtype`` column)
    unless NaN fill is left in it. Tiles no run touches are not emitted
    (sparse semantics)."""
    from ..operators.build import PyramidSpec, _rows_to_pdf, _tile_row
    from ..plans.grid import tile_pixel_window
    from ..sources.catalog import TILE_SCHEMA

    out_spec = PyramidSpec(shape[0], shape[1], ts)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        _, _, w, h = tile_pixel_window(shape, 0, tx, ty, ts)
        plane = np.full((h, w), fill)
        for r_, c0, c1, v in zip(pdf["y0"].to_numpy() - ty * ts,
                                 pdf["x0"].to_numpy() - tx * ts,
                                 pdf["x1"].to_numpy() + 1 - tx * ts,
                                 pdf[col].to_numpy()):
            plane[r_, c0:c1] = v
        if plane.dtype.kind != "f" or not np.isnan(plane).any():
            plane = plane.astype(dtype or pdf["dtype"].iloc[0], copy=False)
        return _rows_to_pdf([_tile_row(out_spec, 0, tx, ty, plane)])

    return runs.select(
        F.expr(f"x0 DIV {ts}").alias("tx"), F.expr(f"y0 DIV {ts}").alias("ty"),
        "x0", "y0", "x1", col, *([] if dtype else ["dtype"]),
    ).groupBy("tx", "ty").applyInPandas(assemble, TILE_SCHEMA)


def region_adjacency(
    spark,
    path: str,
    z: int = 0,
    connectivity: int = 4,
    driver_resolve_max_edges: int = 1_000_000,
) -> DataFrame:
    """Region adjacency graph (RAG): ``(rid_a, rid_b, contact)`` where
    ``contact`` counts the 4-adjacent pixel pairs on the boundary between
    the two regions (rid_a < rid_b; ids as in ``region_label``). Contact
    is ALWAYS 4-edge-based — ``connectivity`` only controls how regions
    themselves were formed (GDAL's sieve convention).

    Plan: the region scan additionally folds per-tile contact pairs into
    (la, lb, w) rows (O(runs) two-pointer sweep, aggregated in-tile);
    cross-tile contacts ride the same strip join as the stitch edges
    (without the value filter); both resolve to final labels and one hash
    aggregate sums weights (``_adjacency``).
    """
    scan, comp, *_ = _resolved_regions(
        spark, path, z, connectivity, driver_resolve_max_edges,
        runs=False, contacts=True,
    )
    return _adjacency(scan, comp)


def region_sieve(
    spark,
    path: str,
    min_px: int,
    z: int = 0,
    connectivity: int = 4,
    driver_resolve_max_edges: int = 1_000_000,
) -> DataFrame:
    """GDAL ``gdal_sieve`` analog (single pass): regions smaller than
    ``min_px`` that touch at least one region of ``>= min_px`` pixels are
    rewritten to the VALUE of their max-contact such neighbor (contact =
    4-adjacent boundary pairs; ties -> the neighbor with the smallest
    region_id). Small regions whose neighbors are all small — and nodata
    — are left unchanged (call again for a fixpoint; GDAL's iterative
    smallest-first merge differs on chained small regions, documented).
    Returns a NEW TILE_SCHEMA raster (sparse, like the input scan).

    Plan: ONE region scan emitting run rows and in-tile contacts, then
    the resolve and adjacency graph as ``region_adjacency``; the region
    table and the small->value mapping are region-count-sized
    DataFrames; the scan's run rows (runs, not pixels) join the mapping
    and the run painter assembles each tile, cast to the dtype its runs
    carry from their source tile.
    """
    from pyspark.sql import Window

    if min_px <= 0:
        raise ValueError(f"min_px must be positive, got {min_px}")
    scan, comp, shape, ts = _resolved_regions(
        spark, path, z, connectivity, driver_resolve_max_edges,
        runs=True, contacts=True,
    )
    runs = _resolve_col(_pieces(scan), comp, "label", "region_id")
    regions = _region_rows(_pieces(scan), comp)
    adj = _adjacency(scan, comp)
    # symmetrize: one row per (small candidate, neighbor)
    sym = adj.select(
        F.col("rid_a").alias("region_id"), F.col("rid_b").alias("nbr"), "contact"
    ).unionByName(adj.select(
        F.col("rid_b").alias("region_id"), F.col("rid_a").alias("nbr"), "contact"
    ))
    small = regions.where(F.col("n_px") < min_px).select("region_id")
    large = regions.where(F.col("n_px") >= min_px).select(
        F.col("region_id").alias("nbr"), F.col("value").alias("nbr_value")
    )
    w_pick = Window.partitionBy("region_id").orderBy(
        F.col("contact").desc(), F.col("nbr").asc()
    )
    targets = (
        sym.join(small, "region_id")
        .join(large, "nbr")  # inner: only large neighbors qualify
        .withColumn("__rk", F.row_number().over(w_pick))
        .where(F.col("__rk") == 1)
        .select("region_id", F.col("nbr_value").alias("new_value"))
    )
    value_map = regions.join(targets, "region_id", "left").select(
        "region_id", F.coalesce("new_value", "value").alias("out_value")
    )
    # dtype policy mirrors warp: NaN background exists whenever the level
    # has nodata pixels, so assemble float64 and cast back to the source
    # tile's dtype only when the tile is fully covered
    return _paint_runs(runs.join(value_map, "region_id"), "out_value",
                       np.nan, None, shape, ts)


def region_label_raster(
    spark,
    path: str,
    z: int = 0,
    connectivity: int = 4,
    driver_resolve_max_edges: int = 1_000_000,
) -> DataFrame:
    """The labeled RASTER half of polygonize: a TILE_SCHEMA level whose
    int64 pixels hold the global ``region_id`` (= the region's first-
    pixel row-major index, identical ids to ``region_label``); nodata
    (NaN input) pixels hold ``-1``. Compose with ``write_level`` +
    ``write_multiscales`` to store; ``region_label`` for the region
    TABLE (count/bbox per region).

    Plan: the stitch resolve is shared with ``region_label`` (strips ->
    JVM equi-join -> two-tier components); the same checkpointed scan
    emits run rows (skinny — runs, not pixels), which join the final
    label map, then the run painter writes each tile's label plane.
    Tiles with zero labeled pixels are dropped (sparse semantics).
    """
    scan, comp, shape, ts = _resolved_regions(
        spark, path, z, connectivity, driver_resolve_max_edges,
        runs=True, contacts=False,
    )
    runs = _resolve_col(_pieces(scan), comp, "label", "region_id")
    return _paint_runs(runs, "region_id", -1, "int64", shape, ts)


def region_stats(
    spark,
    path: str,
    z: int = 0,
    connectivity: int = 4,
    driver_resolve_max_edges: int = 1_000_000,
    perimeter: bool = False,
) -> DataFrame:
    """The full polygonize ATTRIBUTE TABLE: ``region_label``'s columns
    plus exact first-moment sums and the centroid — ``(region_id, value,
    n_px, xmin, ymin, xmax, ymax, sum_x, sum_y, centroid_x,
    centroid_y)`` in level pixel coords (centroid at pixel INDEX
    coordinates; add 0.5 for pixel-center world coords).

    Plan: the shared stitch resolve over a scan that emits RUN rows
    (skinny — runs, not pixels, the ``region_label_raster`` discipline),
    aggregated once: a run of ``n`` pixels from global column ``x0`` on
    global row ``y0`` contributes ``sum_x = n*x0 + n*(n-1)/2`` (exact:
    consecutive-integer sum, always even product) and ``sum_y = n*y0``
    — all JVM integer expressions, one hash aggregate. ``centroid_* =
    sum_* / n_px`` is ONE IEEE division of exact int64s — engine-portable
    (the focal-mean discipline).

    ``perimeter=True`` adds an exact integer ``perimeter`` column
    (4-edge boundary length in pixel-side units, raster border counts
    as boundary — the GDAL/terra polygonize attribute): ``P = 4*n_px -
    2*E_int`` where the internal-edge count decomposes into three
    all-JVM terms over the same checkpointed scan — horizontal in-run
    pairs (``n - 1`` per run), vertical in-tile pairs (a runs self-join
    on (label, consecutive row) summing column overlaps — provisional
    labels are tile-local, and same-value vertical overlap within a tile
    is ALWAYS same-label, since the tile pass unions 4-connected equal
    values), and cross-seam pairs (the strip join with the
    value-equality filter). Edge length is always 4-edge-based
    regardless of ``connectivity`` (the ``region_adjacency`` contact
    convention).
    """
    scan, comp, *_ = _resolved_regions(
        spark, path, z, connectivity, driver_resolve_max_edges,
        runs=True, contacts=False,
    )
    runs = _pieces(scan)
    # sum over the run of global column indexes: n*x0 + 0+1+..+(n-1)
    out = _region_rows(
        runs, comp,
        F.sum(F.expr("n * x0 + (n * (n - 1)) DIV 2")).alias("sum_x"),
        F.sum(F.expr("n * y0")).alias("sum_y"),
    ).select(
        "*",
        (F.col("sum_x").cast("double") / F.col("n_px")).alias("centroid_x"),
        (F.col("sum_y").cast("double") / F.col("n_px")).alias("centroid_y"),
    )
    if not perimeter:
        return out

    h_in = runs.select("label", (F.col("n") - 1).alias("p"))
    ra = runs.select("label", F.col("y0").alias("y"),
                     F.col("x0").alias("a0"), F.col("x1").alias("a1"))
    rb = runs.select("label", (F.col("y0") + 1).alias("y"),
                     F.col("x0").alias("b0"), F.col("x1").alias("b1"))
    v_in = (
        ra.join(rb, ["label", "y"])
        .select("label", (F.least("a1", "b1") - F.greatest("a0", "b0") + 1).alias("p"))
        .where(F.col("p") > 0)
    )
    seam = _facing_pairs(scan).where(F.col("val") == F.col("val_b")).select(
        F.col("lab").alias("label"), F.lit(1).cast("long").alias("p")
    )
    internal = _resolve_col(h_in.unionByName(v_in).unionByName(seam),
                            comp, "label", "region_id")
    totals = internal.groupBy("region_id").agg(F.sum("p").alias("e_int"))
    return out.join(totals, "region_id", "left").select(
        out["*"],
        (F.col("n_px") * 4 - F.coalesce(F.col("e_int"), F.lit(0)) * 2)
        .cast("long").alias("perimeter"),
    )


def region_label(
    spark,
    path: str,
    z: int = 0,
    connectivity: int = 4,
    driver_resolve_max_edges: int = 1_000_000,
) -> DataFrame:
    """Label maximal connected equal-valued pixel regions of level ``z``;
    returns one row per region: ``(region_id, value, n_px, xmin, ymin,
    xmax, ymax)`` in level pixel coords, ``region_id`` = row-major global
    index of the region's first pixel (deterministic, engine-portable).

    Equivalence resolution is two-tier (the engine's gated driver-tail
    pattern): the edge list is dims-sized — one entry per pair of local
    components meeting at a tile boundary, ~regions-crossing-tiles, NOT
    pixels — so up to ``driver_resolve_max_edges`` it is collected behind
    a ``limit()`` guard and union-found on the driver in microseconds
    (the distributed pointer-doubling loop costs ~8 s of fixed Spark-job
    rounds that would dominate any wall below ~10^9 px). Past the bound
    — or with ``driver_resolve_max_edges=0`` — the plan falls back to
    ``dedup.connected_components`` (O(log diameter) rounds, count-only
    driver traffic), which is the correct shape when the stitch graph
    itself is cluster-sized.
    """
    scan, comp, *_ = _resolved_regions(
        spark, path, z, connectivity, driver_resolve_max_edges,
        runs=False, contacts=False,
    )
    return _region_rows(_pieces(scan), comp)
