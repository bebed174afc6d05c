"""Spatial joins vs brute-force oracles (north rule J2-J6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramidscheme_jl_spark.functions.cells import points_in_polygon
from pyramidscheme_jl_spark.operators.joins import (
    knn_join,
    parent_cell_expr,
    point_in_polygon_join,
    salted_repartition,
    with_point_cells,
    zonal_stats,
)
from pyramidscheme_jl_spark.sources.synth import POINTS_DDL, synth_points, synth_polygons

WORLD = 1024.0
RES = 5  # 32x32 cells over the world


@pytest.fixture(scope="module")
def points(spark):
    rows = synth_points(WORLD, n_side=32)
    df = spark.createDataFrame([(r["point_id"], r["x"], r["y"]) for r in rows], POINTS_DDL)
    return with_point_cells(df, RES, WORLD).cache()


@pytest.fixture(scope="module")
def polygons():
    return synth_polygons(WORLD)


def oracle_pip(rows, polygons):
    out = set()
    for p in polygons:
        ring = np.asarray(p["ring"])
        for r in rows:
            if points_in_polygon(np.array([r["x"]]), np.array([r["y"]]), ring)[0]:
                out.add((r["point_id"], p["polygon_id"]))
    return out


def test_pip_join_exact(spark, points, polygons):
    got = {
        (r["point_id"], r["polygon_id"])
        for r in point_in_polygon_join(spark, points, polygons, RES, WORLD).collect()
    }
    want = oracle_pip(points.collect(), polygons)
    assert got == want
    assert len(got) > 100  # non-trivial fixture


def test_pip_boundary_points(spark, points, polygons):
    # the synthetic boundary probes pin the half-open rule end to end
    pairs = {
        (r["point_id"], r["polygon_id"])
        for r in point_in_polygon_join(spark, points, polygons, RES, WORLD).collect()
    }
    rows = {r["point_id"]: r for r in points.collect()}
    probes = [p for p in rows if int(p.split("-")[1]) >= 32 * 32]
    for pid in probes:
        r = rows[pid]
        for poly in polygons:
            ring = np.asarray(poly["ring"])
            want = bool(points_in_polygon(np.array([r["x"]]), np.array([r["y"]]), ring)[0])
            assert ((pid, poly["polygon_id"]) in pairs) == want


def test_parent_cell_expr_matches_numpy(spark, points):
    from pyramidscheme_jl_spark.functions.cells import cell_to_parent

    pdf = points.withColumn("p3", parent_cell_expr("cell", RES, 3)).toPandas()
    np.testing.assert_array_equal(
        pdf["p3"].to_numpy(), cell_to_parent(pdf["cell"].to_numpy(), 3)
    )


def test_zonal_stats(spark, points, polygons):
    pts = points.withColumn("value", F.col("x") + F.col("y"))
    z = {r["polygon_id"]: r for r in zonal_stats(spark, pts, polygons, RES, WORLD).collect()}
    # oracle for rect-a: points strictly inside by the half-open rule
    rows = pts.collect()
    pairs = oracle_pip(rows, polygons)
    want = [r for r in rows if (r["point_id"], "rect-a") in pairs]
    assert z["rect-a"]["n"] == len(want)
    assert z["rect-a"]["sum_value"] == pytest.approx(sum(r["value"] for r in want))
    assert z["rect-a"]["mean_value"] == pytest.approx(
        sum(r["value"] for r in want) / len(want)
    )


def oracle_knn(queries, data, k):
    out = {}
    for q in queries:
        ds = sorted(
            ((np.hypot(q["x"] - d["x"], q["y"] - d["y"]), d["point_id"]) for d in data
             if d["point_id"] != q["point_id"]),
        )
        out[q["point_id"]] = [pid for _, pid in ds[:k]]
    return out


def test_knn_exact_vs_bruteforce(spark, points):
    # queries: a small deterministic subset; data: everyone else
    all_rows = points.collect()
    qids = {f"pt-{i:06d}" for i in (0, 17, 500, 1023, 333)}
    queries = points.where(F.col("point_id").isin(list(qids)))
    data = points.where(~F.col("point_id").isin(list(qids)))
    got = knn_join(spark, queries, data, k=3, res=RES, world=WORLD).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["n_id"], r["dist"]))
    want = oracle_knn(
        [r for r in all_rows if r["point_id"] in qids],
        [r for r in all_rows if r["point_id"] not in qids],
        3,
    )
    assert set(by_q) == qids
    for q in qids:
        ids = [nid for _, nid, _ in sorted(by_q[q])]
        assert ids == want[q], f"knn mismatch for {q}"
        assert len(by_q[q]) == 3


def test_knn_needs_expansion(spark):
    # sparse data forces the ring loop to expand at least once
    import pandas as pd

    qs = spark.createDataFrame([("q0", 10.0, 10.0)], POINTS_DDL)
    ds = spark.createDataFrame(
        [("d0", 900.0, 900.0), ("d1", 800.0, 100.0), ("d2", 100.0, 820.0)], POINTS_DDL
    )
    q = with_point_cells(qs, RES, WORLD)
    d = with_point_cells(ds, RES, WORLD)
    got = sorted(
        (r["rank"], r["n_id"]) for r in knn_join(spark, q, d, k=2, res=RES, world=WORLD).collect()
    )
    # brute force: d1 dist ~ hypot(790,90)=795.1, d2 ~ hypot(90,810)=815, d0 ~ 1258.7
    assert got == [(1, "d1"), (2, "d2")]


def test_knn_key_path_jvm_side(spark):
    """VERDICT r1 #6: cell/grid-disk arithmetic in the kNN candidate join
    must be pure column expressions — no Python eval before the join."""
    from pyramidscheme_jl_spark.functions.cells import cell_to_xy, point_to_cell
    from pyramidscheme_jl_spark.operators.joins import grid_coord_cols

    rows = synth_points(WORLD, n_side=16)
    df = spark.createDataFrame([(r["point_id"], r["x"], r["y"]) for r in rows], POINTS_DDL)
    ix, iy = grid_coord_cols(RES, WORLD)
    got = df.select("point_id", ix.alias("ix"), iy.alias("iy")).toPandas()
    xs = np.array([r["x"] for r in rows])
    ys = np.array([r["y"] for r in rows])
    wix, wiy, _ = cell_to_xy(point_to_cell(xs, ys, RES, WORLD))
    by_id = {r["point_id"]: (wix[i], wiy[i]) for i, r in enumerate(rows)}
    for _, r in got.iterrows():
        assert (r["ix"], r["iy"]) == by_id[r["point_id"]]

    # first-round candidate join plan: entirely JVM-side
    q = df.select(F.col("point_id").alias("query_id"), "x", "y", ix.alias("qix"), iy.alias("qiy"))
    d = df.select(F.col("point_id").alias("n_id"), ix.alias("nix"), iy.alias("niy"))
    offs = F.sequence(F.lit(-1), F.lit(1))
    cand = (
        q.select("*", F.explode(offs).alias("dx"))
        .select("*", F.explode(offs).alias("dy"))
        .select("query_id", (F.col("qix") + F.col("dx")).alias("jx"), (F.col("qiy") + F.col("dy")).alias("jy"))
        .join(d, (F.col("jx") == F.col("nix")) & (F.col("jy") == F.col("niy")))
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # (AQE prints isFinalPlan=false pre-execution, so codegen spans aren't in
    # this string — the load-bearing assertion is the absence of Python eval)


def test_cell_expr_and_point_box_join_cells(spark, points):
    """J6 scale path: JVM morton encode == numpy encoder bit-for-bit, and
    the distributed cover-cell join reproduces the interval join exactly."""
    from pyramidscheme_jl_spark.operators.joins import (
        cell_expr,
        grid_coord_cols,
        point_box_join_cells,
    )

    ix, iy = grid_coord_cols(RES, WORLD)
    enc = points.select("point_id", "cell", cell_expr(ix, iy, RES).alias("jcell"))
    assert enc.where("jcell != cell").count() == 0  # parity with pandas-UDF path
    # the cell_expr-only projection is pure JVM (checked on a UDF-free source;
    # the fixture's own `cell` column came from the pandas-UDF encoder)
    spark = points.sparkSession
    fresh = spark.range(0, 100).selectExpr(
        "cast(id as double) as x", "cast(id % 32 as double) as y"
    )
    plan = (
        fresh.select(cell_expr(ix, iy, RES).alias("jcell"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    box_rows = [("b0", 100.0, 400.0, 50.0, 300.0), ("b1", 0.0, 64.0, 0.0, 1024.0)]
    boxes = spark.createDataFrame(
        box_rows, "box_id string, qxmin double, qxmax double, qymin double, qymax double"
    )
    out = {
        (r["point_id"], r["box_id"])
        for r in point_box_join_cells(points, boxes, 5, WORLD).collect()
    }
    want = {
        (r["point_id"], b)
        for r in points.collect()
        for b, x0, x1, y0, y1 in box_rows
        if x0 <= r["x"] < x1 and y0 <= r["y"] < y1
    }
    assert out == want and len(want) > 50


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(0, 10000).withColumn("key", F.lit("hot"))
    out = salted_repartition(df, ["key"], 8)
    parts = out.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
    assert len(parts) >= 4  # one hot key now spans several partitions
    assert out.count() == 10000


def test_with_point_cells_jvm_matches_numpy(spark):
    """VERDICT r2 #1: the PIP key path must be pure JVM. Pins the column
    expression bit-for-bit against cells.point_to_cell, and asserts the
    encode projection has no Python eval stage."""
    from pyramidscheme_jl_spark.functions.cells import point_to_cell

    rows = synth_points(WORLD, n_side=32)
    df = spark.createDataFrame([(r["point_id"], r["x"], r["y"]) for r in rows], POINTS_DDL)
    enc = with_point_cells(df, RES, WORLD)
    got = {r["point_id"]: r["cell"] for r in enc.collect()}
    xs = np.array([r["x"] for r in rows])
    ys = np.array([r["y"] for r in rows])
    want = point_to_cell(xs, ys, RES, WORLD)
    for i, r in enumerate(rows):
        assert got[r["point_id"]] == want[i]

    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_duplicate_query_rows_terminate(spark):
    """Review r4: duplicate query_id rows must not leave the ring loop
    running empty rounds (n_remaining counts DISTINCT ids)."""
    d = spark.createDataFrame(
        [(f"d{i}", float(i % 16) * 8.0 + 1.0, float(i // 16) * 8.0 + 1.0) for i in range(64)],
        "point_id string, x double, y double",
    )
    q = spark.createDataFrame(
        [("q0", 3.0, 3.0), ("q0", 3.0, 3.0)], "point_id string, x double, y double"
    )
    got = sorted(knn_join(spark, q, d, k=2, res=4, world=128.0).collect(),
                 key=lambda r: r["rank"])
    # terminates AND returns the single-query answer: distinct neighbors,
    # not one duplicate-inflated candidate at both ranks (review r4)
    assert [(r["query_id"], r["rank"], r["n_id"]) for r in got] == [
        ("q0", 1, "d0"), ("q0", 2, "d1")
    ]


def test_knn_conflicting_duplicate_query_raises(spark):
    """ADVICE r4: the same query_id with DIFFERENT coordinates is a data
    error — raise on first conflict instead of answering for an arbitrary
    one. Identical duplicate rows still dedup silently (r4 behavior)."""
    import pytest

    from pyramidscheme_jl_spark.operators.joins import knn_join
    from pyramidscheme_jl_spark.sources.synth import POINTS_DDL

    data = spark.createDataFrame(
        [(f"d{i}", float(10 * i + 5), 5.0) for i in range(6)], POINTS_DDL
    )
    qs_conflict = spark.createDataFrame(
        [("q0", 12.0, 5.0), ("q0", 48.0, 5.0)], POINTS_DDL
    )
    with pytest.raises(Exception, match="conflicting coordinates"):
        knn_join(spark, qs_conflict, data, k=2, res=3, world=64.0).collect()

    qs_same = spark.createDataFrame(
        [("q0", 12.0, 5.0), ("q0", 12.0, 5.0)], POINTS_DDL
    )
    out = knn_join(spark, qs_same, data, k=2, res=3, world=64.0).collect()
    assert sorted(r["n_id"] for r in out) == ["d0", "d1"]


def test_knn_hot_cell_salting_exact_under_skew(spark):
    """VERDICT r4 #6: a hotspot cell (thousands of points in one grid
    cell) must trip the hot-cell salting AND keep knn_join exact vs brute
    force — for queries inside the hotspot, at its edge, and far away."""
    import numpy as np

    from pyramidscheme_jl_spark.operators.joins import _knn_hot_salt, knn_join
    from pyramidscheme_jl_spark.sources.synth import POINTS_DDL

    # decision table: default budget is TASK-sized (no salt below 128k),
    # tests force the salted path with a small budget
    assert _knn_hot_salt(0, 3) == (65536, 1)
    assert _knn_hot_salt(100_000, 3) == (65536, 1)  # <= 2*budget: no salt
    assert _knn_hot_salt(1_000_000, 3)[1] == 16
    assert _knn_hot_salt(200_000, 3)[1] == 4
    assert _knn_hot_salt(5000, 3, budget=64)[1] == 16
    assert _knn_hot_salt(300, 3, budget=64)[1] == 5

    world, n_side = 64.0, 8
    rng = np.random.RandomState(11)
    rows = []
    # sparse background lattice
    for i in range(40):
        rows.append((f"bg-{i:04d}", float((i % 8) * 8 + 4.1), float((i // 8) * 8 + 3.7)))
    # hotspot: 2000 points inside ONE res-3 cell (cell size 8 -> [8,16)x[8,16))
    hx = 8.0 + 8.0 * rng.rand(2000)
    hy = 8.0 + 8.0 * rng.rand(2000)
    rows += [(f"hot-{i:05d}", float(hx[i]), float(hy[i])) for i in range(2000)]
    data = spark.createDataFrame(rows, POINTS_DDL)
    queries = spark.createDataFrame(
        [
            ("q-in", 12.0, 12.0),     # inside the hotspot
            ("q-edge", 16.5, 12.0),   # adjacent cell
            ("q-far", 60.0, 60.0),    # far corner, sparse
        ],
        POINTS_DDL,
    )
    got = {
        (r["query_id"], r["rank"]): (r["n_id"], r["dist"])
        for r in knn_join(
            spark, queries, data, k=3, res=3, world=world, hot_cell_budget=64
        ).collect()
    }
    # brute-force oracle in numpy
    pts = np.array([(x, y) for _, x, y in rows])
    ids = [pid for pid, _, _ in rows]
    for qid, qx, qy in [("q-in", 12.0, 12.0), ("q-edge", 16.5, 12.0), ("q-far", 60.0, 60.0)]:
        dist = np.hypot(pts[:, 0] - qx, pts[:, 1] - qy)
        order = sorted(range(len(ids)), key=lambda i: (dist[i], ids[i]))[:3]
        for rank, i in enumerate(order, start=1):
            nid, d = got[(qid, rank)]
            assert nid == ids[i], (qid, rank, nid, ids[i])
            assert abs(d - dist[i]) < 1e-9


def test_pip_join_multipolygon_with_hole(spark):
    """r7: point_in_polygon_join over a holed multipolygon — points in the
    hole excluded, points in the disjoint part included, brute-force
    even-odd as truth."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyramidscheme_jl_spark.functions.cells import points_in_polygon
    from pyramidscheme_jl_spark.operators.joins import (
        point_in_polygon_join,
        with_point_cells,
    )

    outer = [(4.5, 0.5), (80.5, 0.5), (80.5, 70.5), (4.5, 70.5)]
    hole = [(20.5, 20.5), (50.5, 20.5), (50.5, 50.5), (20.5, 50.5)]
    part2 = [(90.5, 90.5), (120.5, 92.5), (110.5, 120.5)]
    geom = [[outer, hole], [part2]]

    rng = np.random.RandomState(3)
    xs = rng.uniform(0, 128, 800)
    ys = rng.uniform(0, 128, 800)
    pts = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "point_id string, x double, y double",
    )
    pts = with_point_cells(pts, 5, 128.0)
    got = {
        r["point_id"]
        for r in point_in_polygon_join(
            spark, pts, [{"polygon_id": "g", "ring": geom}], 5, 128.0
        ).collect()
    }
    want_mask = points_in_polygon(xs, ys, geom)
    want = {f"p{i}" for i in range(800) if want_mask[i]}
    assert got == want
    # the fixture is non-degenerate: some points in the hole, some in part2
    in_hole = points_in_polygon(xs, ys, [hole])
    assert in_hole.any() and not (want_mask & in_hole).any()
    assert points_in_polygon(xs, ys, [part2]).any()
