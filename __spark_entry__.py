"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()[name]`` is the engine's DataFrame implementation of an
operator from SURVEY.md §2 (or a training-data-pipeline operator), and
``oracle_sql()[name]`` is its exact DuckDB twin over the same parquet.

Engine-portability rules that make the value hashes exact (learned the hard
way, documented once here):
- every float aggregated exactly is integer-valued or pre-quantized with
  ``FLOOR(x*scale + 0.5)`` (DuckDB's double->bigint CAST rounds, Spark's
  truncates — only FLOOR agrees);
- integer SUMs are CAST back to BIGINT in DuckDB (its SUM(BIGINT) widens to
  HUGEINT);
- modular-arithmetic hashes keep every intermediate < 2^62 (DuckDB raises on
  int64 overflow where the JVM wraps);
- token hashes are ``conv(substr(md5(t),1,k),16,10)`` == DuckDB
  ``CAST('0x'||substr(md5(t),1,k) AS BIGINT)`` — verified bit-identical;
- ties in every top-k break on (score, id) so row sets are deterministic.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyramidscheme_jl_spark.operators import dedup as D
from pyramidscheme_jl_spark.operators import similarity as S
from pyramidscheme_jl_spark.operators import text as TX
from pyramidscheme_jl_spark.plans.grid import select_level

SF_DEFAULT = "/root/testdata/sf0.001"


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors even when the harness built its own
    SparkSession (UDF-bearing queries would otherwise fail to unpickle on
    workers unless the driver happened to launch from the repo root).

    Also pins the session timezone to UTC: the events rollups bucket a
    TZ-naive parquet timestamp via unix_timestamp, which shifts with
    spark.sql.session.timeZone — DuckDB's epoch() oracle is UTC (ADVICE r1).
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if getattr(spark, "_pyramid_pkg_shipped", False):
        return
    try:
        from pyramidscheme_jl_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added or non-standard context — imports may still resolve
    spark._pyramid_pkg_shipped = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# pyramid block aggregation on integer grids (SURVEY.md §2.3 A1/A5-A8)
# ---------------------------------------------------------------------------


def q_block_agg_mean(spark: SparkSession, sf: str) -> DataFrame:
    """A1+A5: one 2x2 block-aggregation level over the (partkey, suppkey)
    integer grid — the relational twin of the tile downsample kernel."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy(
            F.shiftright("l_partkey", 1).alias("bx"),
            F.shiftright("l_suppkey", 1).alias("by"),
        )
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .withColumn("mean_qty", F.col("sum_qty") / F.col("n"))
    )


def q_block_agg_mean_t(spark: SparkSession, sf: str) -> DataFrame:
    """Non-spatial pass-through dim (VERDICT r2 #6, reference
    src/PyramidScheme.jl:229-233): same 2x2 block aggregation with
    ``l_linenumber`` as the t axis — t joins the GROUP KEY, never the
    aggregated values (the relational twin of operators/cube.py)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy(
            F.shiftright("l_partkey", 1).alias("bx"),
            F.shiftright("l_suppkey", 1).alias("by"),
            F.col("l_linenumber").cast("int").alias("t"),
        )
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .withColumn("mean_qty", F.col("sum_qty") / F.col("n"))
    )


def q_block_agg_minmax(spark: SparkSession, sf: str) -> DataFrame:
    """A8: min/max reducers over factor-4 blocks (level-2 equivalent)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy(
        F.shiftright("l_partkey", 2).alias("bx"),
        F.shiftright("l_suppkey", 2).alias("by"),
    ).agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("n"),
    )


def q_block_agg_mode(spark: SparkSession, sf: str) -> DataFrame:
    """A7 ESALCMode: per-block categorical mode, ties -> lowest value
    (findmax-first parity, reference src/PyramidScheme.jl:272)."""
    li = _t(spark, sf, "lineitem")
    counts = li.groupBy(
        F.shiftright("l_partkey", 3).alias("bx"), F.col("l_linenumber").alias("mode_val")
    ).agg(F.count("*").alias("cnt"))
    win = Window.partitionBy("bx").orderBy(F.col("cnt").desc(), F.col("mode_val").asc())
    return (
        counts.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("bx", "mode_val", "cnt")
    )


def q_block_agg_median(spark: SparkSession, sf: str) -> DataFrame:
    """A8b/§2.11 median reducer (non-decomposable -> direct build): per-block
    exact median. l_quantity is integer-valued so the even-count
    interpolation (avg of the two middles) is exact in both engines."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy(F.shiftright("l_partkey", 2).alias("bx")).agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.count("*").alias("n"),
    )


def q_recursive_mean_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """O1: recursive level reuse is exact for decomposable reducers — level-2
    built from level-1 (sum,count) pairs must equal the direct build.
    Returns a single row with the violation count (expected 0)."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").alias("q")
    )
    l1 = li.groupBy(
        F.shiftright("l_partkey", 1).alias("bx"), F.shiftright("l_suppkey", 1).alias("by")
    ).agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    l2_rec = l1.groupBy(
        F.shiftright("bx", 1).alias("bx2"), F.shiftright("by", 1).alias("by2")
    ).agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    l2_dir = li.groupBy(
        F.shiftright("l_partkey", 2).alias("bx2"), F.shiftright("l_suppkey", 2).alias("by2")
    ).agg(F.sum("q").alias("s2"), F.count("*").alias("n2"))
    j = l2_rec.join(l2_dir, ["bx2", "by2"], "full_outer")
    return j.agg(
        F.sum(
            F.when(
                (F.col("s") != F.col("s2")) | (F.col("n") != F.col("n2")), 1
            ).otherwise(0)
        ).alias("n_bad")
    )


# ---------------------------------------------------------------------------
# multi-level rollup + pruned window read (A2 + L1, "hypertable" flavor)
# ---------------------------------------------------------------------------


def _events_hr(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return ev.select(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).alias("hr"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )


def q_rollup_multilevel(spark: SparkSession, sf: str) -> DataFrame:
    """A2 all-levels fill: 3 aggregation levels of the hour axis in one scan
    (explode the level list, shift the bucket key per level)."""
    ev = _events_hr(spark, sf)
    lv = ev.select(
        "hr", "vc", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("z")
    )
    return lv.groupBy("z", F.expr("shiftright(hr, z)").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("sum_cents"),
        F.min("vc").alias("min_cents"),
        F.max("vc").alias("max_cents"),
    )


#: viewport for the selectlevel window read (driver-side plan constants):
#: a 192-hour window of the hour axis at a 128-bucket target -> the log2
#: rule (select_level) picks z = ceil(log2(192/128)) = 1
_WIN_EXTENT = (473280.0, 0.0, 473472.0, 1.0)
_WIN_TARGET = (128, 128)
_WIN_BASE = (473472, 1)  # hour-axis extent treated as a 1-px-tall raster
_WIN_Z = select_level(_WIN_BASE, 3, _WIN_EXTENT, _WIN_TARGET)


def q_selectlevel_window(spark: SparkSession, sf: str) -> DataFrame:
    """L1 selectlevel: the log2 rule picks one level; the scan prunes to that
    level's bucket range (partition pruning + min/max skipping shape)."""
    z = max(1, min(3, _WIN_Z))
    ev = _events_hr(spark, sf)
    b0, b1 = int(_WIN_EXTENT[0]) >> z, int(_WIN_EXTENT[2]) >> z
    return (
        ev.groupBy(F.expr(f"shiftright(hr, {z})").alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("vc").alias("sum_cents"))
        .where(F.col("bucket").between(b0, b1))
        .withColumn("z", F.lit(z).cast("int"))
    )


# ---------------------------------------------------------------------------
# spatial joins (north rule J3/J5/J4/J6) on derived integer lattices
# ---------------------------------------------------------------------------


def _points_part(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        (F.col("p_partkey") % 128).alias("px"),
        F.expr("p_partkey div 128 % 128").alias("py"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("price_cents"),
    )


def _boxes_nation(spark: SparkSession, sf: str) -> DataFrame:
    n = _t(spark, sf, "nation")
    return n.select(
        "n_nationkey",
        ((F.col("n_nationkey") % 5) * 24).alias("qxmin"),
        ((F.col("n_nationkey") % 5) * 24 + 30).alias("qxmax"),
        (F.expr("n_nationkey div 5") * 24).alias("qymin"),
        (F.expr("n_nationkey div 5") * 24 + 30).alias("qymax"),
    )


def q_bbox_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6 range join: point-in-box pairs, half-open boxes, broadcast dims."""
    pts = _points_part(spark, sf)
    boxes = _boxes_nation(spark, sf)
    return pts.join(
        F.broadcast(boxes),
        (pts["px"] >= boxes["qxmin"])
        & (pts["px"] < boxes["qxmax"])
        & (pts["py"] >= boxes["qymin"])
        & (pts["py"] < boxes["qymax"]),
    ).select("p_partkey", "n_nationkey")


def q_bbox_join_cells(spark: SparkSession, sf: str) -> DataFrame:
    """J6 scale path: same point-in-box semantics as q_bbox_join (same
    oracle SQL) but via the distributed cover-cell equi-join — neither side
    broadcast, for box TABLES too large for the driver."""
    from pyramidscheme_jl_spark.operators.joins import point_box_join_cells

    pts = _points_part(spark, sf).select(
        "p_partkey",
        F.col("px").cast("double").alias("x"),
        F.col("py").cast("double").alias("y"),
    )
    boxes = _boxes_nation(spark, sf)
    out = point_box_join_cells(
        pts, boxes, res=4, world=128.0,
        point_cols=("p_partkey", "x", "y"),
        box_cols=("n_nationkey", "qxmin", "qxmax", "qymin", "qymax"),
    )
    return out.select("p_partkey", "n_nationkey")


def q_zonal_agg(spark: SparkSession, sf: str) -> DataFrame:
    """J5 zonal aggregates: the bbox join rolled up per zone."""
    pts = _points_part(spark, sf)
    boxes = _boxes_nation(spark, sf)
    j = pts.join(
        F.broadcast(boxes),
        (pts["px"] >= boxes["qxmin"])
        & (pts["px"] < boxes["qxmax"])
        & (pts["py"] >= boxes["qymin"])
        & (pts["py"] < boxes["qymax"]),
    )
    return j.groupBy("n_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("price_cents").alias("min_cents"),
        F.max("price_cents").alias("max_cents"),
    )


#: concave hexagon over the part-lattice world (x in [0,128), y low enough
#: that even sf0.001's two-row lattice intersects); vertices at .5 so
#: integer lattice points never sit on an edge — both engines evaluate the
#: identical IEEE-double crossing test
_PIP_RING = [
    (5.5, 0.5), (60.5, 2.5), (120.5, 0.5),
    (100.5, 12.5), (60.5, 6.5), (20.5, 13.5),
]


def q_pip_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3 point-in-polygon, non-rectangular: the engine's filter+refine
    cover join vs an exact SQL ray-cast twin (VERDICT r1 #7)."""
    from pyramidscheme_jl_spark.operators.joins import (
        point_in_polygon_join,
        with_point_cells,
    )

    pts = _points_part(spark, sf).select(
        F.format_string("p-%09d", F.col("p_partkey").cast("int")).alias("point_id"),
        F.col("px").cast("double").alias("x"),
        F.col("py").cast("double").alias("y"),
    )
    pts = with_point_cells(pts, 5, 128.0)
    polys = [{"polygon_id": "hex-a", "ring": _PIP_RING}]
    out = point_in_polygon_join(spark, pts, polys, 5, 128.0)
    return out.select(
        F.substring("point_id", 3, 9).cast("long").alias("p_partkey"), "polygon_id"
    )


def q_pip_zonal(spark: SparkSession, sf: str) -> DataFrame:
    """J5 zonal aggregates over the NON-rectangular polygon: the pip_join
    pairs rolled up with price stats (partial+final hash agg)."""
    pairs = q_pip_join(spark, sf)
    pts = _points_part(spark, sf).select("p_partkey", "price_cents")
    return pairs.join(pts, "p_partkey").groupBy("polygon_id").agg(
        F.count("*").alias("n"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("price_cents").alias("min_cents"),
        F.max("price_cents").alias("max_cents"),
    )


def q_knn(spark: SparkSession, sf: str) -> DataFrame:
    """J4 kNN: exact 3 nearest customers per nation query point via the
    engine's k-ring-expansion join (grid res 4 over a 128-unit world);
    the oracle is the brute-force window top-k. The whole key path is
    JVM-side column arithmetic (VERDICT r1 #6) — no cell-encoding UDF."""
    from pyramidscheme_jl_spark.operators.joins import knn_join

    n = _t(spark, sf, "nation").select(
        F.format_string("n-%02d", F.col("n_nationkey").cast("int")).alias("point_id"),
        ((F.col("n_nationkey") % 5) * 25 + 7).cast("double").alias("x"),
        (F.expr("n_nationkey div 5") * 25 + 11).cast("double").alias("y"),
    )
    c = _t(spark, sf, "customer").select(
        F.format_string("c-%09d", F.col("c_custkey").cast("int")).alias("point_id"),
        (F.col("c_custkey") % 128).cast("double").alias("x"),
        F.expr("cast(c_custkey div 128 % 128 as double)").alias("y"),
    )
    out = knn_join(spark, n, c, k=3, res=4, world=128.0)
    return out.select(
        F.substring("query_id", 3, 2).cast("long").alias("n_nationkey"),
        F.substring("n_id", 3, 9).cast("long").alias("c_custkey"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# dedup / text / similarity (training-data pipeline operators)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(_t(spark, sf, "documents")).select(
        "text_hash", "keep_id", "dup_count"
    )


def q_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").where(F.col("n_chars") <= 120)
    return D.jaccard_pairs(docs, threshold=0.5, max_df=100).select(
        "id_a", "id_b", "common", F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
    )


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").where(F.col("n_chars") <= 200)
    return D.minhash_lsh_pairs(docs, num_hashes=8, band_size=2)


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").where(F.col("n_chars") <= 200)
    return D.simhash(docs, bits=16)


def q_hamming_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming<=3 near-dup pairs on a 60-bit SimHash fingerprint via the
    pigeonhole band join (dedup.hamming_near_dup) — the operator that
    consumes a 64-bit image phash (BASELINE input_hint) or any BIGINT
    fingerprint. 60 bits = the full usable width of the portable token
    hash; dist <= 3 is selective (2.9k pairs of 125k possible at sf0.01).

    r9: the fingerprint table (one 16-byte row per doc) is lazily
    localCheckpointed so the self-join's two sides share ONE simhash
    computation instead of re-deriving the whole tokenize+vote pipeline
    per side (~3 s/side at sf1.0)."""
    docs = _t(spark, sf, "documents")
    s = D.simhash(docs, bits=60).withColumnRenamed("simhash", "fp").localCheckpoint(
        eager=False
    )
    return D.hamming_near_dup(s, fp_col="fp", id_col="id", r=3, bits=60)


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the hamming<=3 near-dup pairs
    (dedup.connected_components): the dedup GROUP decision — component =
    min reachable doc id. Oracle: DuckDB recursive CTE transitive closure
    over the identical quadratic pair set. r9: computed via
    dedup.fingerprint_components — identical rows, but the band join and
    resolve run over one representative per DISTINCT fingerprint (32.6k
    reps / 222k edges instead of 50k docs / 27.4M edges at sf1.0) and the
    quadratic pair set never materializes."""
    docs = _t(spark, sf, "documents")
    s = D.simhash(docs, bits=60).withColumnRenamed("simhash", "fp").localCheckpoint(
        eager=False
    )
    return D.fingerprint_components(s, fp_col="fp", id_col="id", r=3, bits=60).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    s = TX.quality_score(_t(spark, sf, "documents"))
    return s.select(
        "id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "ttr_milli", "mean_tok_len_milli", "quality_milli",
    )


def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    out = TX.language_id(_t(spark, sf, "documents"))
    casts = [F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("score_")]
    return out.select("id", *casts, "pred_lang")


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return TX.fingerprint(_t(spark, sf, "documents"))


def q_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish regex tokenizer stats (whitespace twin is token_stats)."""
    return TX.regex_tokens(_t(spark, sf, "documents"))


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    s = TX.token_stats(_t(spark, sf, "documents"))
    return s.select(
        "id",
        *[F.col(c).cast("long").alias(c) for c in ("n_tokens", "n_distinct", "n_chars", "n_subwords", "max_token_len")],
    )


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    out = S.brute_force_topk(emb, emb.where(F.col("vec_id") < 5), k=5)
    return out.select("query_id", "n_id", "ip", F.col("rank").cast("long").alias("rank"))


def q_union_cat(spark: SparkSession, sf: str) -> DataFrame:
    """C1 cat: union of two level tables with the right side's keys shifted
    past the left extent (the tile-grid concat made relational)."""
    p = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("tx"), F.col("p_size").cast("long").alias("v")
    )
    offset = p.agg(F.max("tx")).collect()[0][0] + 1  # driver-side plan constant
    shifted = p.select((F.col("tx") + F.lit(offset)).alias("tx"), "v")
    return p.unionByName(shifted)


def q_events_topk(spark: SparkSession, sf: str) -> DataFrame:
    """§2.9 window top-k: latest 3 events per user, deterministic ties."""
    ev = _t(spark, sf, "events")
    win = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select("user_id", "event_id", F.col("rank").cast("long").alias("rank"))
    )


#: seeded random-hyperplane LSH config (VERDICT r1 #10) — shared verbatim by
#: the Spark expressions and the DuckDB sign-table CTEs below
_LSH_SEED, _LSH_DIM = 7, 64


def q_cosine_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, hyperplane-LSH blocked (the scale
    path); the oracle reproduces the same blocking so row sets match."""
    out = S.cosine_near_dup_pairs(
        _t(spark, sf, "embeddings"), threshold_milli=300, bits=8,
        seed=_LSH_SEED, dim=_LSH_DIM,
    )
    return out.select(
        "id_a", "id_b", "ip",
        F.col("na2").cast("long").alias("na2"), F.col("nb2").cast("long").alias("nb2"),
    )


#: IVF config for the oracle pair (train deterministically: first 256 rows
#: by vec_id, seeded k-means, fixed-point centroids — both engines derive
#: the identical quantized centroid matrix)
_IVF = dict(nlist=8, nprobe=2, seed=7, train_size=256, k=5)
_PQ = dict(m=8, ksub=16, seed=7, train_size=256, k=5)
_IVFPQ = dict(nlist=8, nprobe=2, m=8, ksub=16, seed=7, train_size=256, k=5)


def q_events_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable rollup (round 5): minute/hour/day count+sum hierarchy
    where each coarser grain re-aggregates the finer grain's partials
    (the pyramid cascade on time — one O(events) scan total). Values in
    exact cents; epoch seconds UTC."""
    from pyramidscheme_jl_spark.operators.temporal import time_rollup

    ev = _t(spark, sf, "events").select(
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("ts_s"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return time_rollup(ev, ts_col="ts_s", value_col="cents")


def q_events_asof_click(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (round 5; BASELINE's "operator Spark lacks" list): every
    'view' event matched to the user's latest prior 'click' within one
    hour — pure-JVM union+window plan (one shuffle), vs DuckDB's NATIVE
    ``ASOF JOIN``. Timestamps compared as epoch micros (UTC pinned);
    equal-timestamp click duplicates resolve to the highest event_id in
    both engines (tiebreak= here, max/max_by there)."""
    from pyramidscheme_jl_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"), "value",
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "t_us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us", "value"
    )
    out = asof_join(
        views, clicks, on="t_us", by="user_id",
        right_cols=["event_id", "value"], tiebreak="event_id",
        tolerance=3_600_000_000,
    )
    return out.select(
        "user_id", "view_id",
        F.col("event_id_right").alias("click_id"),
        (F.col("t_us") - F.col("t_us_right")).alias("gap_us"),
        F.col("value_right").alias("click_value"),
    )


def q_events_asof_next_click(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of (r7 direction surface): every 'view' matched to the
    user's EARLIEST following 'click' within one hour — the mirrored
    one-shuffle window plan, vs DuckDB's native ``ASOF`` with the
    comparison flipped (``v.t <= c.t``). Equal-timestamp duplicates
    resolve to the LOWEST event_id in both engines (forward tiebreak is
    first-by-(t, tb); DuckDB pre-aggregates MIN/min_by)."""
    from pyramidscheme_jl_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"), "value",
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "t_us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us", "value"
    )
    out = asof_join(
        views, clicks, on="t_us", by="user_id",
        right_cols=["event_id", "value"], tiebreak="event_id",
        tolerance=3_600_000_000, direction="forward",
    )
    return out.select(
        "user_id", "view_id",
        F.col("event_id_right").alias("click_id"),
        (F.col("t_us_right") - F.col("t_us")).alias("gap_us"),
        F.col("value_right").alias("click_value"),
    )


def q_events_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of (r7): the closer click either side of each view
    within 30 minutes, exact-distance ties going backward (the pandas
    merge_asof contract) — BOTH arms computed over the SAME window sort
    (still one shuffle). DuckDB twin composes two native ASOF arms and
    re-applies the tie rule in a CASE."""
    from pyramidscheme_jl_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"), "value",
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "t_us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us", "value"
    )
    out = asof_join(
        views, clicks, on="t_us", by="user_id",
        right_cols=["event_id", "value"], tiebreak="event_id",
        tolerance=1_800_000_000, direction="nearest",
    )
    return out.select(
        "user_id", "view_id",
        F.col("event_id_right").alias("click_id"),
        (F.col("t_us") - F.col("t_us_right")).alias("gap_us"),  # signed
        F.col("value_right").alias("click_value"),
    )


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap sessionization (r7): 30-minute-gap sessions per user over
    epoch-micro ordinals — one window, running sum of gap flags; the
    numbering is deterministic under duplicate timestamps (a zero
    distance can never start a session). DuckDB twin is the identical
    SQL window."""
    from pyramidscheme_jl_spark.operators.temporal import sessionize

    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    out = sessionize(ev, "user_id", "ts", gap=1_800_000_000)
    return out.select("user_id", "event_id", "session_id")


def q_docs_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified corpus sampling (r7, pipeline surface):
    per-language keep fractions decided by the row's own md5-derived
    60-bit hash — no RNG state, stable under repartitioning, the
    engine-portable grid the dedup family pinned (conv(substr(md5)) ==
    DuckDB's 0x-cast)."""
    from pyramidscheme_jl_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    out = stratified_sample(
        docs, {"en": 1.0, "zh": 0.5, "es": 0.2}, "lang", "doc_id",
        seed=11, default_fraction=0.05,
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def q_docs_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/eval/test split (r7): contiguous hash ranges
    in sorted-name order; growing the corpus never migrates a row.
    Aggregated per split (count + char sum) for a compact oracle row."""
    from pyramidscheme_jl_spark.operators.sampling import hash_split

    docs = _t(spark, sf, "documents")
    out = hash_split(
        docs, {"train": 0.9, "eval": 0.05, "test": 0.05}, "doc_id", seed=2
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_geo_radius_join(spark: SparkSession, sf: str) -> DataFrame:
    """Spherical radius join (r7, operators/geo.py): WGS84 points within
    150 km great-circle of each query site — degree-grid blocking (3x3
    probe equi-join, never a cross join) + exact codegen'd haversine
    refine. Coordinates derive from customer keys; output is the
    pairs-only projection (the blocking-losslessness contract), the
    distances being float trig whose last-ulp parity across engines is
    deliberately not part of the oracle. The DuckDB twin is the
    quadratic ground truth with the structurally identical formula."""
    from pyramidscheme_jl_spark.operators.geo import radius_join

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") % 1200) / 10.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 7) % 3600) / 10.0 - 180.0).alias("lon"),
    )
    qs = cust.where(F.col("point_id") % 100 == 0).select(
        F.col("point_id").alias("query_id"), "lat", "lon"
    )
    return radius_join(cust, qs, 150_000.0, dist_col=None)


def _lines_fixture(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    seg = _t(spark, sf, "part").where(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("seg_id"),
        ((F.col("p_partkey") % 100) * 10).cast("double").alias("x1"),
        (F.expr("(p_partkey div 100) % 100") * 10).cast("double").alias("y1"),
        ((F.col("p_partkey") % 100) * 10
         + ((F.col("p_partkey") * 3) % 200) - 100).cast("double").alias("x2"),
        (F.expr("(p_partkey div 100) % 100") * 10
         + ((F.col("p_partkey") * 7) % 200) - 100).cast("double").alias("y2"),
    )
    pts = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") * 13) % 1000).cast("double").alias("x"),
        ((F.col("c_custkey") * 29) % 1000).cast("double").alias("y"),
    )
    return seg, pts


def q_lines_near_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Point-to-segment proximity join (r7, operators/lines.py): pairs
    within 25 planar units, segment-side subdivision blocking + exact
    clamped-projection refine. The refine is libm-free (only IEEE
    +-*/, least/greatest, sqrt — all correctly rounded everywhere), so
    unlike the spherical join the DISTANCES are part of the oracle
    contract, bit-for-bit."""
    from pyramidscheme_jl_spark.operators.lines import points_near_lines

    seg, pts = _lines_fixture(spark, sf)
    return points_near_lines(seg, pts, 25.0)


def q_lines_snap_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Snap-to-nearest-segment (r7): each point's closest segment within
    25 units, ties by lowest seg_id — the map-matching argmin over the
    same bit-reproducible distances (DuckDB twin: ROW_NUMBER over
    (d2, seg_id))."""
    from pyramidscheme_jl_spark.operators.lines import points_near_lines

    seg, pts = _lines_fixture(spark, sf)
    return points_near_lines(seg, pts, 25.0, nearest_only=True)


def q_interval_join_ship(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join (r7; BASELINE's "range join" ask): orders
    placed while a lineitem was in transit — the bucketed equi-join plan
    (interval explode + single point bucket, zero dedup by
    construction) vs DuckDB's native IEJoin over BETWEEN. Day ordinals
    ride the shared date rule."""
    from pyramidscheme_jl_spark.operators.temporal import interval_join

    li = _t(spark, sf, "lineitem").where(F.col("l_partkey") % 50 == 0).select(
        "l_orderkey", "l_linenumber",
        # stored as timestamps; both engines truncate to DATE so the
        # day ordinals agree. The synthetic lineitem has no
        # receiptdate; derive a transit window from the part key.
        F.to_date("l_shipdate").alias("l_ship_d"),
        F.date_add(F.to_date("l_shipdate"),
                   (F.col("l_partkey") % 20).cast("int")).alias("l_end_d"),
    )
    od = _t(spark, sf, "orders").where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_date_d")
    )
    out = interval_join(li, od, "l_ship_d", "l_end_d", "o_date_d")
    return out.select("l_orderkey", "l_linenumber", "o_orderkey")


def q_interval_overlap_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Interval x interval overlap join (r7): lineitem transit windows
    vs 30-day order windows, every overlapping pair emitted EXACTLY
    once via the later-start-bucket claim (no dedup shuffle) — counts,
    not just sets, must match DuckDB's inequality join."""
    from pyramidscheme_jl_spark.operators.temporal import (
        interval_overlap_join,
    )

    li = _t(spark, sf, "lineitem").where(F.col("l_partkey") % 100 == 0).select(
        "l_orderkey", "l_linenumber",
        F.to_date("l_shipdate").alias("l_ship_d"),
        F.date_add(F.to_date("l_shipdate"),
                   (F.col("l_partkey") % 20).cast("int")).alias("l_end_d"),
    ).repartition(spark.sparkContext.defaultParallelism)  # r9: see tiered row
    od = _t(spark, sf, "orders").where(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_date_d"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("o_end"),
    )
    out = interval_overlap_join(
        li, od, "l_ship_d", "l_end_d", "o_date_d", "o_end"
    )
    return out.select("l_orderkey", "l_linenumber", "o_orderkey")


def q_events_session_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Native session_window aggregates (r7): per-(user, session)
    stats via Spark's built-in session merge — the expression that runs
    unchanged under Structured Streaming with a watermark. Closed gap
    rule pinned by test (touching windows merge); values pre-quantized
    to cents so sums stay exact int64 (the time_rollup portability
    rule). DuckDB twin: the closed-rule lag/sum sessionization, then
    group."""
    from pyramidscheme_jl_spark.operators.temporal import session_agg

    ev = _t(spark, sf, "events").select(
        "user_id", "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = session_agg(ev, "user_id", "ts", 1800, value_col="cents")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("session_start_us"),
        "n",
        F.col("sum_v").alias("sum_cents"),
    )


def q_interval_join_tiered(spark: SparkSession, sf: str) -> DataFrame:
    """The TIERED interval plan under the correctness gate (r7): a
    bimodal fixture — most transit windows 0-14 days, every 1000th part
    an 11-year service window — joined with tier_threshold=4 so the
    multi-resolution path provably runs (the oracle pins the plan the
    way the ANN rows pin explicit rerank). Same DuckDB BETWEEN truth as
    the flat row.

    r9: the interval side is repartitioned to the session's parallelism
    BEFORE the tier explode — the result is ~655M rows at sf1.0 (the
    always-on windows cover every order by design) and the emitting
    broadcast join otherwise runs on the handful of scan splits of one
    parquet file (42.6 -> 10.9 s; the shuffle moved is 600k narrow
    interval rows, nothing at any scale)."""
    from pyramidscheme_jl_spark.operators.temporal import interval_join

    li = _t(spark, sf, "lineitem").where(F.col("l_partkey") % 10 == 0).select(
        "l_orderkey", "l_linenumber",
        F.to_date("l_shipdate").alias("l_ship_d"),
        F.date_add(
            F.to_date("l_shipdate"),
            F.when(F.col("l_partkey") % 1000 == 0, F.lit(4000))
            .otherwise((F.col("l_partkey") % 15)).cast("int"),
        ).alias("l_end_d"),
    ).repartition(spark.sparkContext.defaultParallelism)
    od = _t(spark, sf, "orders").where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_date_d")
    )
    out = interval_join(
        li, od, "l_ship_d", "l_end_d", "o_date_d", tier_threshold=4
    )
    return out.select("l_orderkey", "l_linenumber", "o_orderkey")


def _ensure_focal_level(spark: SparkSession) -> str:
    """Memoized focal-mean level over the zonal fixture: focal_stats ->
    write_level -> (copied multiscales doc) — the derived-raster
    composition path a user runs (focal then extract/zonal)."""
    import shutil

    root = "/dev/shm/psjl_focal_oracle_v1"
    path = f"{root}/pyr"
    done = f"{root}/_done"
    if os.path.exists(done):
        return path
    from pyramidscheme_jl_spark.operators.raster import focal_stats
    from pyramidscheme_jl_spark.sources.catalog import (
        MULTISCALES_FILE,
        write_level,
    )

    src_pyr = _ensure_zonal_pyramid(spark)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    write_level(focal_stats(spark, src_pyr, z=0, stat="mean"), path, 0)
    # focal preserves the grid: the source's interchange doc applies
    shutil.copy(f"{src_pyr}/{MULTISCALES_FILE}", f"{path}/{MULTISCALES_FILE}")
    open(done, "w").close()
    return path


def q_focal_mean_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Focal (3x3 neighborhood) mean over the built raster (r7,
    raster.focal_stats): halo-exchange plan — tiles re-emit r-wide edge
    strips to their 8 neighbors (the shuffle carries ~0.8% of pixel
    volume, never whole tiles), per-tile assembly computes the
    separable window stat with explicit left-to-right adds. Integer
    window sums / integer counts -> ONE IEEE division, so the mean is
    engine-portable bit-for-bit with no quantization: DuckDB rebuilds
    the mosaic closed-form, runs the same separable window SUMs, and
    divides once. Sampled at part-key pixel centers through
    raster_extract over the WRITTEN focal level (focal -> write_level
    -> extract: the derived-raster composition)."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import raster_extract

    path = _ensure_focal_level(spark)
    pts = _t(spark, sf, "part").select(
        F.concat(F.lit("pt-"), F.col("p_partkey").cast("string")).alias("point_id"),
        ((F.col("p_partkey") * 7919) % 512 + 0.5).cast("double").alias("x"),
        ((F.col("p_partkey") * 104729) % 512 + 0.5).cast("double").alias("y"),
    )
    res = raster_extract(spark, path, pts, z=0)
    return res.select(
        "point_id",
        (F.col("x") * 2).cast("long").alias("x2"),
        (F.col("y") * 2).cast("long").alias("y2"),
        F.col("value").alias("focal_mean"),
    )


def q_docs_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Test-set contamination audit (r7, dedup.ngram_contamination — the
    GPT-3 13-gram decontamination method at n=8 for the synthetic doc
    lengths): per corpus document, distinct 8-grams hitting the
    "benchmark" subset (every 97th doc). Broadcast benchmark grams, one
    corpus scan, map-side-partial per-doc counts; ppm fraction keeps the
    oracle integer-exact."""
    from pyramidscheme_jl_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_contamination(docs, bench, n=8)


def q_docs_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-doc repetition metrics (r7,
    text.repetition_stats): per document the most-frequent-2-gram share
    and the duplicate-2-gram share as integer ppm — one scan, two hash
    aggregates, no joins; the quality-filter family's repetition leg."""
    from pyramidscheme_jl_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"), n=2)


def q_embedding_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ/ADC ANN top-k (round 5): codes + per-query LUTs + ADC sums are
    exact int64 on the shared fixed-point grid, so the DuckDB twin
    reproduces every rank from the same codebook literals."""
    emb = _t(spark, sf, "embeddings")
    return S.pq_topk(
        emb, emb.where(F.col("vec_id") < 5),
        k=_PQ["k"], m=_PQ["m"], ksub=_PQ["ksub"],
        seed=_PQ["seed"], train_size=_PQ["train_size"],
        rerank=None,  # the oracle pins the raw bit-exact ADC order
    )


def q_embedding_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Composed IVF-PQ ANN top-k (round 6, VERDICT r5 #1): residual PQ
    codes per IVF list, per-(query, probed-list) integer LUTs, ADC over
    the probed lists only — compression x pruning, the 10^12-vector
    architecture. All-int64 on the shared grid: the DuckDB twin
    reproduces assignment, residual codes, LUTs and every rank."""
    emb = _t(spark, sf, "embeddings")
    return S.ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 5),
        k=_IVFPQ["k"], nlist=_IVFPQ["nlist"], nprobe=_IVFPQ["nprobe"],
        m=_IVFPQ["m"], ksub=_IVFPQ["ksub"],
        seed=_IVFPQ["seed"], train_size=_IVFPQ["train_size"],
        rerank=None,  # the oracle pins the raw bit-exact ADC order
    )


def q_embedding_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-k (coarse k-means quantizer, nprobe inverted lists) —
    exact-integer assignment metric makes the DuckDB twin bit-exact."""
    emb = _t(spark, sf, "embeddings")
    return S.ivf_topk(
        emb, emb.where(F.col("vec_id") < 5),
        k=_IVF["k"], nlist=_IVF["nlist"], nprobe=_IVF["nprobe"],
        seed=_IVF["seed"], train_size=_IVF["train_size"],
    )


def q_embedding_lsh_topk_all(spark: SparkSession, sf: str) -> DataFrame:
    """LSH ANN top-k with Q = the ENTIRE corpus (VERDICT r2 #2): the
    query side is NOT broadcast — both sides shuffle on the bucket key
    (shuffle-hash equi-join), the self-join form that survives 10^9
    queries. Same bucket/score arithmetic as the broadcast path."""
    emb = _t(spark, sf, "embeddings")
    out = S.lsh_topk(
        emb, emb, k=3, bits=6, seed=_LSH_SEED, dim=_LSH_DIM,
        broadcast_queries=False,
    )
    return out.select("query_id", "n_id", "ip", F.col("rank").cast("long").alias("rank"))


def q_embedding_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    emb = S.lsh_bucket(_t(spark, sf, "embeddings"), bits=16, seed=_LSH_SEED, dim=_LSH_DIM)
    return emb.groupBy("bucket").agg(
        F.count("*").alias("n"), F.min("vec_id").alias("min_id")
    )


_STREAMED_ORACLE_DIR = "/dev/shm/psjl_streamed_oracle_v1"


def _ensure_streamed_pyramid(spark: SparkSession) -> str:
    """Memoized fixture for the streaming oracle (VERDICT r4 #8): the G=4
    synthetic mosaic streamed in TWO micro-batches — the second REPLACES
    image 0 with constant-7 pixels, so the delta layout's last-writer-wins
    and the ancestor cascade are both value-checked — then compacted to
    bulk parquet. Deterministic content => safe to reuse across calls."""
    path = f"{_STREAMED_ORACLE_DIR}/pyr"
    done = f"{_STREAMED_ORACLE_DIR}/_done"
    if os.path.exists(done):
        return path
    import shutil

    import numpy as np

    from pyramidscheme_jl_spark.functions.codec import encode_tile
    from pyramidscheme_jl_spark.sources.synth import (
        IMAGES_DDL,
        image_row,
        synth_images,
    )
    from pyramidscheme_jl_spark.streaming.ingest import compact_pyramid, ingest_images

    shutil.rmtree(_STREAMED_ORACLE_DIR, ignore_errors=True)
    os.makedirs(_STREAMED_ORACLE_DIR)
    src = f"{_STREAMED_ORACLE_DIR}/src"
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(2).write.parquet(
        f"{src}/b0"
    )
    ingest_images(spark, f"{src}/*", path, G=4).awaitTermination(300)
    repl = dict(image_row(0, G=4))
    repl["bytes"] = encode_tile(np.full((256, 256), 7, dtype=np.uint8))
    spark.createDataFrame([repl], IMAGES_DDL).coalesce(1).write.parquet(f"{src}/b1")
    ingest_images(spark, f"{src}/*", path, G=4).awaitTermination(300)
    compact_pyramid(spark, path, run_id="oracle-compact")
    open(done, "w").close()
    return path


def _ensure_streamed_cube(spark: SparkSession) -> str:
    """Cube twin of ``_ensure_streamed_pyramid`` (round 5): two t-slices
    of the G=2 mosaic (slice pixels = base + 7t mod 256, uint8 wrap)
    streamed in two micro-batches — the second REPLACES (t=1, image 0)
    with constant-9 pixels — then compacted. Exercises the cube delta
    layout, per-(t, ancestor) cascade and t-preserving compaction."""
    path = f"{_STREAMED_ORACLE_DIR}/cube"
    done = f"{_STREAMED_ORACLE_DIR}/_cube_done"
    if os.path.exists(done):
        return path
    import shutil

    import numpy as np

    from pyramidscheme_jl_spark.functions.codec import encode_tile
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images
    from pyramidscheme_jl_spark.streaming.ingest import (
        compact_pyramid,
        ingest_cube_images,
    )

    shutil.rmtree(path, ignore_errors=True)
    src = f"{_STREAMED_ORACLE_DIR}/cube_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    ddl = IMAGES_DDL + ", t int"
    rows = []
    for t in (0, 1):
        for r in synth_images(G=2):
            px = np.frombuffer(r["bytes"], dtype=np.uint8) + np.uint8(7 * t)
            rows.append({**r, "bytes": px.tobytes(), "t": t})
    spark.createDataFrame(rows, ddl).coalesce(2).write.parquet(f"{src}/b0")
    ingest_cube_images(spark, f"{src}/*", path, G=2).awaitTermination(300)
    repl = next(dict(r) for r in rows if r["t"] == 1 and r["image_id"] == "img-00000000")
    repl["bytes"] = encode_tile(np.full((256, 256), 9, dtype=np.uint8))
    spark.createDataFrame([repl], ddl).coalesce(1).write.parquet(f"{src}/b1")
    ingest_cube_images(spark, f"{src}/*", path, G=2).awaitTermination(300)
    compact_pyramid(spark, path, run_id="cube-oracle-compact")
    open(done, "w").close()
    return path


# CCW, strictly convex, integer vertices, and EVERY edge has dx+dy odd —
# so the doubled pixel-center cross product 2c = dx*(2py+1-2y1) - dy*(2px+1-2x1)
# is always ODD, hence never zero: no pixel center can lie on an edge and the
# engine's even-odd ray cast agrees with the oracle's strict half-plane test
# on every pixel (alternating (x+y) vertex parity forces even ring sizes)
_ZONAL_RING_P1 = [(60, 40), (251, 62), (470, 92), (461, 300), (200, 480), (41, 300)]
_ZONAL_RING_P2 = [(30, 30), (100, 45), (56, 110), (31, 80)]
_ZONAL_RING_P3 = [(300, 20), (501, 60), (480, 200), (320, 161)]
_ZONAL_POLYS = [
    {"polygon_id": "p1", "ring": [[float(x), float(y)] for x, y in _ZONAL_RING_P1]},
    {"polygon_id": "p2", "ring": [[float(x), float(y)] for x, y in _ZONAL_RING_P2]},
    {"polygon_id": "p3", "ring": [[float(x), float(y)] for x, y in _ZONAL_RING_P3]},
]


def _ensure_zonal_pyramid(spark: SparkSession) -> str:
    """Memoized built-pyramid fixture for the raster-zonal oracle: the G=4
    mosaic at 128px (512x512 base, 4x4 tiles of 128) — deterministic
    closed-form pixels, so DuckDB recomputes every zonal aggregate from
    the pixel formula + integer half-plane tests."""
    root = "/dev/shm/psjl_zonal_oracle_v1"  # own root: the streamed-fixture
    # builder rmtree's _STREAMED_ORACLE_DIR wholesale on rebuild
    path = f"{root}/pyr"
    done = f"{root}/_done"
    if os.path.exists(done):
        return path
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    images = spark.createDataFrame(synth_images(G=4, size=128), IMAGES_DDL)
    build_pyramid(spark, images, path, G=4, reducer="mean", tilesize=128, run_id="zonal-oracle")
    open(done, "w").close()
    return path


def _zonal_halfplane_sql(ring: list[tuple[int, int]]) -> str:
    """Strict-interior test for a CCW CONVEX integer-vertex polygon at the
    pixel center (px+0.5, py+0.5), scaled by 2 so every term is an exact
    integer: AND over edges of cross((v2-v1), (c-v1)) > 0. The paired
    pytest asserts no pixel center lies ON an edge, so strict > matches
    the engine's even-odd ray cast exactly."""
    n = len(ring)
    for i in range(n):  # convexity guard: oracle semantics require it
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        x3, y3 = ring[(i + 2) % n]
        if (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1) <= 0:
            raise ValueError(f"ring not strictly convex CCW at vertex {i}")
        if ((x2 - x1) + (y2 - y1)) % 2 == 0:
            raise ValueError(
                f"edge {i} has even dx+dy: a pixel center could lie ON it, "
                "making the strict half-plane oracle diverge from ray cast"
            )
    conds = []
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        conds.append(
            f"(({2 * (x2 - x1)})*(2*py+1 - {2 * y1})"
            f" - ({2 * (y2 - y1)})*(2*px+1 - {2 * x1}) > 0)"
        )
    return " AND ".join(conds)


def q_zonal_raster(spark: SparkSession, sf: str) -> DataFrame:
    """Raster zonal statistics over a BUILT pyramid (joins.zonal_raster):
    per-polygon pixel aggregates with the three-tier filter+refine plan —
    pushed cell-range scan, stats-only interior tiles (no bytes read),
    decoded boundary shell. Oracle: DuckDB recomputes from the closed-form
    mosaic pixels + exact integer half-plane tests. Fixed-size by design
    (the subsystem under test is the tile-pruning plan); ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_raster

    path = _ensure_zonal_pyramid(spark)
    res = zonal_raster(spark, path, _ZONAL_POLYS, z=0)
    return res.select(
        "polygon_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_px").cast("long").alias("sum_px"),
        F.col("min_px").cast("long").alias("min_px"),
        F.col("max_px").cast("long").alias("max_px"),
        F.expr("CAST(sum_px AS BIGINT) * 1000 DIV n_px").alias("mean_milli"),
    )


def q_raster_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Raster point extraction (joins.raster_extract): pyramid pixel values
    at point locations — points derived deterministically from ``part``
    keys over the built-pyramid fixture, value recomputed closed-form in
    DuckDB. x/y are pixel centers (k + 0.5), reported doubled for exact
    integer hashing."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import raster_extract

    path = _ensure_zonal_pyramid(spark)
    pts = _t(spark, sf, "part").select(
        F.concat(F.lit("pt-"), F.col("p_partkey").cast("string")).alias("point_id"),
        ((F.col("p_partkey") * 7919) % 512 + 0.5).cast("double").alias("x"),
        ((F.col("p_partkey") * 104729) % 512 + 0.5).cast("double").alias("y"),
    )
    res = raster_extract(spark, path, pts, z=0)
    return res.select(
        "point_id",
        (F.col("x") * 2).cast("long").alias("x2"),
        (F.col("y") * 2).cast("long").alias("y2"),
        F.col("value").cast("long").alias("value"),
    )


def q_rasterize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Vector->raster burn (raster.rasterize_polygons): the three fixture
    rings painted 10/20/30 (last wins) over a 512x512/128 tile grid;
    per-tile stats vs DuckDB's closed-form paint (reverse-order CASE over
    the exact integer half-plane tests). Mean quantization mirrors the
    engine's double division exactly: both sides compute sum/n in IEEE
    double, scale by 2^20, FLOOR(+0.5). Fixed-size by design."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons

    polys = [dict(p, value=v) for p, v in zip(_ZONAL_POLYS, (10.0, 20.0, 30.0))]
    tiles = rasterize_polygons(spark, polys, (512, 512), tilesize=128)

    def q(c: str):
        return F.expr(f"CAST(FLOOR({c} * 1048576 + 0.5) AS BIGINT)").alias(f"{c}_u")

    return tiles.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        q("vmin"),
        q("vmax"),
        q("vmean"),
    )


# --- r7: holes + multipolygons across the spatial surface -----------------
# A holed multipolygon in the pip fixture's 128-world (points are the
# integer part lattice; vertices at .5 keep lattice points off every edge):
# outer A with a rectangular hole, plus a disjoint quad B.
_MP_OUTER_A = [(4.5, 0.5), (80.5, 0.5), (80.5, 12.5), (4.5, 12.5)]
_MP_HOLE_A = [(20.5, 3.5), (40.5, 3.5), (40.5, 9.5), (20.5, 9.5)]
_MP_PART_B = [(90.5, 1.5), (120.5, 2.5), (110.5, 11.5), (92.5, 8.5)]
# The zonal/rasterize twin in the 512-world: the (non-convex) P1 hexagon
# with a rectangular hole, plus a disjoint triangle outside P1; and an
# overlapping quad that paints INTO the hole (rasterize paint-order test).
_MPZ_HOLE = [(150.0, 150.0), (300.0, 150.0), (300.0, 250.0), (150.0, 250.0)]
_MPZ_TRI = [(480.0, 430.0), (505.0, 445.0), (470.0, 470.0)]
_MPZ_QUAD = [(170.0, 170.0), (280.0, 175.0), (270.0, 230.0), (175.0, 225.0)]


def _evenodd_sql(rings, cx: str, cy: str) -> str:
    """Even-odd crossing-parity predicate at ``(cx, cy)`` over ALL rings'
    closed edges — the exact SQL twin of ``points_in_polygon`` (identical
    IEEE-double expression ``dx*(cy-y1)/dy + x1`` with the same half-open
    crossing rule), so holes and multipolygon parts fall out of the same
    parity test on both engines. Horizontal edges are skipped on both
    sides (the crossing condition is identically false)."""
    terms = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = float(ring[i][0]), float(ring[i][1])
            x2, y2 = float(ring[(i + 1) % n][0]), float(ring[(i + 1) % n][1])
            if y2 == y1:
                continue  # numpy: cond is False; SQL: avoid div-by-zero
            terms.append(
                f"CASE WHEN (({y1!r} > {cy}) <> ({y2!r} > {cy})) AND "
                f"({cx} < {x2 - x1!r} * ({cy} - {y1!r}) / {y2 - y1!r} + {x1!r}) "
                "THEN 1 ELSE 0 END"
            )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def q_pip_join_mp(spark: SparkSession, sf: str) -> DataFrame:
    """J3 over a HOLED MULTIPOLYGON (r7): outer ring with a rectangular
    hole plus a disjoint part, one ``polygon_id`` — lattice points inside
    the hole must NOT match; points in either part must. Exercises
    ``as_rings`` normalization through cover planning, full-cell
    classification (no full cell inside the hole), and the multi-ring
    ray-cast refine."""
    from pyramidscheme_jl_spark.operators.joins import (
        point_in_polygon_join,
        with_point_cells,
    )

    pts = _points_part(spark, sf).select(
        F.format_string("p-%09d", F.col("p_partkey").cast("int")).alias("point_id"),
        F.col("px").cast("double").alias("x"),
        F.col("py").cast("double").alias("y"),
    )
    pts = with_point_cells(pts, 5, 128.0)
    polys = [{"polygon_id": "mp-a", "ring": [[_MP_OUTER_A, _MP_HOLE_A], [_MP_PART_B]]}]
    out = point_in_polygon_join(spark, pts, polys, 5, 128.0)
    return out.select(
        F.substring("point_id", 3, 9).cast("long").alias("p_partkey"), "polygon_id"
    )


def q_zonal_raster_mp(spark: SparkSession, sf: str) -> DataFrame:
    """Raster zonal statistics over a HOLED MULTIPOLYGON (r7): P1 minus a
    rectangular hole plus a disjoint triangle, one zone. Hole pixels are
    excluded by the same even-odd parity on both engines; interior tiles
    strictly between outer and hole still take the stats-only tier."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_raster

    path = _ensure_zonal_pyramid(spark)
    polys = [{
        "polygon_id": "mph",
        "ring": [[[list(v) for v in _ZONAL_RING_P1], [list(v) for v in _MPZ_HOLE]],
                 [[list(v) for v in _MPZ_TRI]]],
    }]
    res = zonal_raster(spark, path, polys, z=0)
    return res.select(
        "polygon_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_px").cast("long").alias("sum_px"),
        F.col("min_px").cast("long").alias("min_px"),
        F.col("max_px").cast("long").alias("max_px"),
        F.expr("CAST(sum_px AS BIGINT) * 1000 DIV n_px").alias("mean_milli"),
    )


def q_rasterize_mp(spark: SparkSession, sf: str) -> DataFrame:
    """Vector->raster burn with holes + paint order (r7): the holed
    multipolygon burns 10, then an overlapping quad burns 20 INTO the
    hole region — hole pixels of the first polygon stay unburned unless
    the second covers them (GDAL interior-ring semantics + last-wins
    paint order in one fixture)."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons

    polys = [
        {"polygon_id": "mph", "value": 10.0,
         "ring": [[[list(v) for v in _ZONAL_RING_P1], [list(v) for v in _MPZ_HOLE]],
                  [[list(v) for v in _MPZ_TRI]]]},
        {"polygon_id": "q20", "value": 20.0, "ring": [list(v) for v in _MPZ_QUAD]},
    ]
    tiles = rasterize_polygons(spark, polys, (512, 512), tilesize=128)

    def q(c: str):
        return F.expr(f"CAST(FLOOR({c} * 1048576 + 0.5) AS BIGINT)").alias(f"{c}_u")

    return tiles.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        q("vmin"),
        q("vmax"),
        q("vmean"),
    )


def q_zonal_cube_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(polygon, t) zonal statistics over the STREAMED (x, y, t) cube
    fixture (joins.zonal_cube): the time axis rides through the tile
    split, the Arrow refine, and the final aggregate. Oracle: DuckDB
    regenerates both t-slices closed-form — including the (t=1, image 0)
    rewrite — and applies the exact integer half-plane tests."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_cube

    path = _ensure_streamed_cube(spark)
    res = zonal_cube(spark, path, _ZONAL_POLYS, z=0)
    return res.select(
        "polygon_id",
        F.col("t").cast("long").alias("t"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("sum_px").cast("long").alias("sum_px"),
        F.col("min_px").cast("long").alias("min_px"),
        F.col("max_px").cast("long").alias("max_px"),
        F.expr("CAST(sum_px AS BIGINT) * 1000 DIV n_px").alias("mean_milli"),
    )


def q_streamed_cube_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ST5 oracle row (round 5): per-tile stats of a STREAMED (x, y, t)
    cube — two slices, a rewrite in the second micro-batch, compacted —
    vs DuckDB's closed-form recomputation (slice pixels
    ((16*(gx+gy) + (x XOR y)) % 256 + 7t) % 256, (t=1, image 0) replaced
    by 9s). Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube import read_cube_tiles

    path = _ensure_streamed_cube(spark)

    def q(c: str):
        return F.expr(f"CAST(FLOOR({c} * 1048576 + 0.5) AS BIGINT)").alias(f"{c}_u")

    return read_cube_tiles(spark, path).select(
        F.col("t").cast("long").alias("t"),
        F.col("z").cast("long").alias("z"),
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        q("vmin"),
        q("vmax"),
        q("vmean"),
    )


def q_streamed_pyramid_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ST1/ST4 oracle row (VERDICT r4 #8): per-tile stats of a pyramid
    built ENTIRELY by streaming ingestion (delta layout, two batches with
    a rewrite) and compacted, vs DuckDB's closed-form recomputation of
    the same synthetic pixels ((16*(gx+gy) + (x XOR y)) % 256, image 0
    replaced by 7s in batch 1). Fixed-size by design — the subsystem
    under test is the streaming path, not sf scaling; ``sf`` is unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.sources.catalog import read_tiles

    path = _ensure_streamed_pyramid(spark)

    def q(c: str):
        return F.expr(f"CAST(FLOOR({c} * 1048576 + 0.5) AS BIGINT)").alias(f"{c}_u")

    return read_tiles(spark, path).select(
        F.col("z").cast("long").alias("z"),
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        q("vmin"),
        q("vmax"),
        q("vmean"),
    )


# ---------------------------------------------------------------------------
# persisted IVF-PQ index (round 8, VERDICT r7 #2): train/encode once, codes
# parquet partitioned by list_id, probed lists = partition filters at the scan
# ---------------------------------------------------------------------------

_IVFPQ_INDEX_DIR = "/dev/shm/psjl_ivfpq_index_v1"


def _ensure_ivfpq_index(spark: SparkSession, sf: str) -> str:
    """Memoized per-sf index build (training is seeded + orderBy-sampled, so
    the index is deterministic and safe to reuse across calls)."""
    import hashlib

    path = f"{_IVFPQ_INDEX_DIR}/{hashlib.md5(sf.encode()).hexdigest()[:12]}"
    done = f"{path}/_done"
    if os.path.exists(done):
        return path
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    emb = _t(spark, sf, "embeddings")
    S.write_ivfpq_index(
        emb, path, nlist=_IVFPQ["nlist"], m=_IVFPQ["m"], ksub=_IVFPQ["ksub"],
        seed=_IVFPQ["seed"], train_size=_IVFPQ["train_size"],
    )
    open(done, "w").close()
    return path


def q_raster_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-value histogram of the zonal fixture's base level
    (raster.raster_histogram, r8): one tile scan, per-Arrow-batch
    np.unique partials, one tiny hash aggregate — shuffle carries
    (partitions x occupied bins) rows, never pixels. Oracle: DuckDB
    groups the closed-form 512x512 mosaic pixels by value. Fixed-size
    by design (the subsystem under test is the partial-histogram plan);
    ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import raster_histogram

    path = _ensure_zonal_pyramid(spark)
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("value"),
        F.col("n").cast("long").alias("n"),
    )


def q_warp_affine_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Axis-aligned affine NN regrid (raster.warp_affine, r8 — the
    ``gdalwarp`` analog): the 512x512 zonal fixture warped onto a
    320x288 grid at rational scales x=8/5, y=7/4 with offsets (-3, +5),
    so the output carries ragged edge tiles AND two out-of-range NaN
    columns (the float64-nodata path). z=0 pinned: the mapping is exact
    int64 (center rule, integer DIV), so DuckDB replays it closed-form
    from the mosaic formula. Per-tile stats: integer vmin/vmax, and
    vmean as exact-integer-sum / count — ONE IEEE division, portable
    bit-for-bit (the focal-row discipline). Fixed-size by design (the
    subsystem under test is the warp gather plan); ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import warp_affine

    path = _ensure_zonal_pyramid(spark)
    df = warp_affine(
        spark, path, (320, 288), (8, 5), (7, 4), offset=(-3, 5), z=0, tilesize=256
    )
    return df.select(
        F.col("tx").cast("long").alias("otx"),
        F.col("ty").cast("long").alias("oty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        F.col("vmin").cast("long").alias("vmin_px"),
        F.col("vmax").cast("long").alias("vmax_px"),
        F.expr("CAST(FLOOR(vmean * 1048576 + 0.5) AS BIGINT)").alias("vmean_u"),
    )


def q_warp_bilinear_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Bilinear warp (raster.warp_affine resampling='bilinear', r8): same
    320x288 regrid as `warp_affine_stats` but 4-neighbor interpolated.
    Every output value is an exact rational num/80 (Qx=10, Qy=8) whose
    int64 numerator both engines accumulate identically — per-tile stats
    are integer sums/extremes of rint(v*80), no float hashing anywhere.
    DuckDB replays the floor-division + pmod neighbor/weight arithmetic
    closed-form from the mosaic formula (clamped edges, NN validity
    footprint). Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.raster import warp_affine

    path = _ensure_zonal_pyramid(spark)
    df = warp_affine(
        spark, path, (320, 288), (8, 5), (7, 4), offset=(-3, 5), z=0,
        tilesize=256, resampling="bilinear",
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                u = np.rint(a[m] * 80).astype(np.int64)
                rows.append({
                    "otx": int(r.tx), "oty": int(r.ty),
                    "n_valid": int(m.sum()),
                    "sum_u": int(u.sum()), "min_u": int(u.min()),
                    "max_u": int(u.max()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(
        gen, "otx long, oty long, n_valid long, sum_u long, min_u long, max_u long"
    )


def q_zonal_categorical(spark: SparkSession, sf: str) -> DataFrame:
    """Per-polygon majority/minority/variety (joins.zonal_categorical,
    r8): the shared per-(polygon, value) count refine + ONE struct-agg
    (ties to the LOWEST value, the ESALC-mode rule). DuckDB recomputes
    from closed-form pixels + half-plane tests, encoding the argmax/argmin
    tie rule as integer keys n*4096 +- v. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_categorical

    path = _ensure_zonal_pyramid(spark)
    res = zonal_categorical(spark, path, _ZONAL_POLYS, z=0)
    return res.select(
        "polygon_id",
        *[F.col(c).cast("long").alias(c) for c in (
            "n_px", "variety", "majority", "majority_n",
            "minority", "minority_n")],
    )


_EQ_ORACLE_DIR = "/dev/shm/psjl_eq_oracle_v1"


def q_equalize_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Global histogram equalization (raster.histogram_equalize, r8)
    composed through the store loop: equalize the zonal mosaic's base
    level -> write_level -> raster_histogram. The LUT is exact integer
    round-half-up of the cumulative counts, so DuckDB rebuilds it with
    one window cumsum over the closed-form per-value histogram.
    Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import (
        histogram_equalize,
        raster_histogram,
    )
    from pyramidscheme_jl_spark.sources.catalog import write_level, write_multiscales

    src = _ensure_zonal_pyramid(spark)
    path = f"{_EQ_ORACLE_DIR}/eq"
    done = f"{_EQ_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_EQ_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_EQ_ORACLE_DIR, exist_ok=True)
        write_level(histogram_equalize(spark, src, z=0), path, 0)
        write_multiscales(path, 0, 128, 512, 512, "equalize", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("value"),
        F.col("n").cast("long").alias("n"),
    )


def q_dem_roughness_stats(spark: SparkSession, sf: str) -> DataFrame:
    """gdaldem roughness (raster.roughness, r8): 3x3 window max-min with
    edge replication == shrinking-window focal max - focal min exactly
    (pytest-pinned identity), so DuckDB replays it as two chained 1-D
    window MAX passes minus two MIN passes over the closed-form mosaic —
    integer-exact. Per-tile stats rows. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.raster import roughness

    path = _ensure_zonal_pyramid(spark)
    df = roughness(spark, path, z=0)

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                u = a[np.isfinite(a)].astype(np.int64)
                rows.append({
                    "tx": int(r.tx), "ty": int(r.ty),
                    "n_px": int(u.size), "sum_r": int(u.sum()),
                    "min_r": int(u.min()), "max_r": int(u.max()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(
        gen, "tx long, ty long, n_px long, sum_r long, min_r long, max_r long"
    )


_MORPH_ORACLE_DIR = "/dev/shm/psjl_morph_oracle_v1"


def q_morphology_open_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Morphological OPENING (raster.morphology, r8 — erode∘dilate focal
    min/max with the shrinking-border rule) composed through the store
    loop: open the zonal mosaic -> write_level -> raster_histogram exact
    per-value counts. DuckDB replays the separable window construction —
    4 chained 1-D window MIN/MIN/MAX/MAX passes over the closed-form
    pixels (the focal-stats twin, order-irrelevant for min/max).
    Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import morphology, raster_histogram
    from pyramidscheme_jl_spark.sources.catalog import write_level, write_multiscales

    src = _ensure_zonal_pyramid(spark)
    path = f"{_MORPH_ORACLE_DIR}/opened"
    done = f"{_MORPH_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_MORPH_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_MORPH_ORACLE_DIR, exist_ok=True)
        out = morphology(
            spark, src, op="open", radius=1,
            workdir=f"{_MORPH_ORACLE_DIR}/inter",
        )
        write_level(out, path, 0)
        write_multiscales(path, 0, 128, 512, 512, "morph-open", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("value"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# temporal cube fixture (round 8): gap-fill + composite over a NON-UNIFORM t
# domain. Closed-form pixels, closed-form missingness, one frame-tile dropped
# from storage entirely (sparse-cube absent plane) — DuckDB regenerates all
# of it and replays the fill/composite rules with window functions.
# ---------------------------------------------------------------------------

_TIMECUBE_ORACLE_DIR = "/dev/shm/psjl_timecube_oracle_v1"
_TC_TS = (0, 1, 2, 4, 6)  # non-uniform: gap rules are t-unit, not index
_TC_BASE, _TC_TILE = 256, 128
_TC_DROPPED = (1, 0, 2)  # (tx, ty, t) frame-tile absent from storage


def _ensure_timecube(spark: SparkSession) -> str:
    """Memoized cube fixture: v = (3*px + 5*py + 11*t) % 97 (float64),
    missing iff (px + 2*py + 3*t) % 5 == 0, plus one whole frame-tile
    dropped. Every pixel (and every hole) is closed-form in DuckDB."""
    path = f"{_TIMECUBE_ORACLE_DIR}/cube"
    done = f"{_TIMECUBE_ORACLE_DIR}/_done"
    if os.path.exists(done):
        return path
    import shutil

    import numpy as np

    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _tile_row
    from pyramidscheme_jl_spark.operators.cube import CUBE_TILE_SCHEMA, write_cube_level
    from pyramidscheme_jl_spark.sources.catalog import write_multiscales

    shutil.rmtree(_TIMECUBE_ORACLE_DIR, ignore_errors=True)
    os.makedirs(_TIMECUBE_ORACLE_DIR, exist_ok=True)
    spec = PyramidSpec(_TC_BASE, _TC_BASE, _TC_TILE)
    px = np.arange(_TC_BASE)[None, :]
    py = np.arange(_TC_BASE)[:, None]
    rows = []
    for t in _TC_TS:
        frame = ((3 * px + 5 * py + 11 * t) % 97).astype(np.float64)
        frame[(px + 2 * py + 3 * t) % 5 == 0] = np.nan
        for ty in range(2):
            for tx in range(2):
                if (tx, ty, t) == _TC_DROPPED:
                    continue
                a = frame[
                    ty * _TC_TILE : (ty + 1) * _TC_TILE,
                    tx * _TC_TILE : (tx + 1) * _TC_TILE,
                ]
                rows.append(dict(_tile_row(spec, 0, tx, ty, a), t=t))
    write_cube_level(spark.createDataFrame(rows, CUBE_TILE_SCHEMA), path, 0)
    write_multiscales(path, spec.nlevels, _TC_TILE, _TC_BASE, _TC_BASE, "mean", "-")
    open(done, "w").close()
    return path


def _cube_px_stats(df: DataFrame, scale: int) -> DataFrame:
    """Per-(t, tile) valid-pixel count + exact integer sum of
    rint(v*scale). For integer-valued planes scale=1 is lossless; for
    linear-fill planes the scale clears every rational denominator (lcm
    of possible t spans), so the rounded product is EXACTLY the integer
    DuckDB computes — portable (the warp vmean_u discipline)."""
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                rows.append({
                    "t": int(r.t), "tx": int(r.tx), "ty": int(r.ty),
                    "n_valid": int(m.sum()),
                    "sum_u": int(np.rint(a[m] * scale).astype(np.int64).sum()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(gen, "t long, tx long, ty long, n_valid long, sum_u long")


def _plane_px_stats(df: DataFrame, scale: int, with_minmax: bool = False) -> DataFrame:
    """TILE-plane twin of ``_cube_px_stats`` (composites have no t)."""
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                row = {
                    "tx": int(r.tx), "ty": int(r.ty),
                    "n_valid": int(m.sum()),
                    "sum_u": int(np.rint(a[m] * scale).astype(np.int64).sum()),
                }
                if with_minmax:
                    row["vmin_px"] = int(a[m].min()) if m.any() else -1
                    row["vmax_px"] = int(a[m].max()) if m.any() else -1
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    ddl = "tx long, ty long, n_valid long, sum_u long"
    if with_minmax:
        ddl += ", vmin_px long, vmax_px long"
    return df.mapInPandas(gen, ddl)


def q_cube_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pixel LOCF along t over a stored cube (cube_time.cube_gap_fill,
    r8): one groupBy(tx,ty) gather, vectorized numpy fill, absent frames
    re-materialized over the collected t domain. Carried values are the
    source integers, so per-(t,tile) sums are exact BIGINTs both engines.
    Fixed-size by design (subsystem under test is the fill plan); ``sf``
    unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube_time import cube_gap_fill

    path = _ensure_timecube(spark)
    return _cube_px_stats(cube_gap_fill(spark, path, method="locf"), 1)


def q_cube_gapfill_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded linear interpolation along t (gap length <= 2 in t units)
    through the CHUNKED halo-exchange path (t_chunk=2): chunk groups see
    home frames + max_gap+1 halo frames each side and emit interiors only
    — the scale shape for long series. Fill values are
    (pv*(tn-t)+nv*(t-tp))/(tn-tp): exact integer products, one IEEE
    division; sums portable via rint(v*60) (60 clears every t-span
    denominator in [1,6]). Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube_time import cube_gap_fill

    path = _ensure_timecube(spark)
    return _cube_px_stats(
        cube_gap_fill(spark, path, method="linear", max_gap=2, t_chunk=2), 60
    )


def q_cube_composite_max(spark: SparkSession, sf: str) -> DataFrame:
    """Max-value composite + winning-t provenance plane
    (cube_time.cube_composite, r8 — the max-NDVI mosaic rule, ties to the
    smallest t). Value-plane stats joined with the argt plane's exact
    per-tile winning-t sum (integers, so both planes hash portably).
    Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube_time import cube_composite

    path = _ensure_timecube(spark)
    val = _plane_px_stats(cube_composite(spark, path, stat="max"), 1, with_minmax=True)
    argt = _plane_px_stats(
        cube_composite(spark, path, stat="max", argt=True), 1
    ).select("tx", "ty", F.col("sum_u").alias("t_sum"))
    return val.join(argt, ["tx", "ty"])


def q_cube_composite_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pixel skipmissing mean along t (cube_time.cube_composite): the
    per-pixel mean is exact-int-sum / count (counts in [1,5]); rint(v*60)
    clears every count denominator, so tile sums are exact BIGINTs both
    engines. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube_time import cube_composite

    path = _ensure_timecube(spark)
    return _plane_px_stats(cube_composite(spark, path, stat="mean"), 60)


def q_cube_anomaly_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pixel climatology anomaly cube (cube_time.cube_anomaly, r8):
    anomaly = (n*v - Sv)/n, exact integer numerator + ONE IEEE division;
    rint(a*60) is exact both engines (60 clears every count denominator
    n in [1,5]), so per-(t, tile) integer sums hash portably. Fixed-size
    by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.cube_time import cube_anomaly

    path = _ensure_timecube(spark)
    return _cube_px_stats(cube_anomaly(spark, path), 60)


def q_cube_trend_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pixel OLS slope along t (cube_time.cube_trend, r8): moment sums
    are exact integers, the slope is ONE IEEE division — both engines
    produce bit-identical doubles (pytest pins bitwise equality), so
    FLOOR(slope*2^20 + 0.5) quantizes identically and per-tile integer
    sums hash portably. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.cube_time import cube_trend

    path = _ensure_timecube(spark)
    df = cube_trend(spark, path, stat="slope")

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                u = np.floor(a[m] * 1048576 + 0.5).astype(np.int64)
                rows.append({
                    "tx": int(r.tx), "ty": int(r.ty),
                    "n_valid": int(m.sum()), "slope_u_sum": int(u.sum()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(gen, "tx long, ty long, n_valid long, slope_u_sum long")


def q_reclassify_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Class remap (read.reclassify, r8 — the gdal_calc/ESA-LC reclass
    shape) composed through the store loop: reclassify the zonal mosaic's
    base level into 8 int32 classes -> write_level -> raster_histogram
    exact per-value counts. DuckDB rebins the closed-form mosaic.
    Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import raster_histogram
    from pyramidscheme_jl_spark.operators.read import reclassify
    from pyramidscheme_jl_spark.sources.catalog import (
        read_level,
        write_level,
        write_multiscales,
    )

    src = _ensure_zonal_pyramid(spark)
    path = f"{_TIMECUBE_ORACLE_DIR}/reclass"
    done = f"{_TIMECUBE_ORACLE_DIR}/_reclass_done"
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        bins = [(i * 32, (i + 1) * 32, 10 + i) for i in range(8)]
        out = reclassify(read_level(spark, src, 0), bins, default=0, dtype="int32")
        write_level(out, path, 0)
        write_multiscales(path, 0, 128, 512, 512, "reclass", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("klass"),
        F.col("n").cast("long").alias("n"),
    )


_REGIONS_ORACLE_DIR = "/dev/shm/psjl_regions_oracle_v1"

#: integer-rect burn list for the region fixture: A+B touch (one region
#: despite crossing the x=128 tile boundary), C is same-value but
#: disconnected, D touches B with a DIFFERENT value (no merge), E1+E2
#: overlap into a plus shape crossing x=128 and y=384. Pixel coverage of
#: rect [x0,x1)x[y0,y1) is exactly x0<=px<=x1-1 (centers never on integer
#: edges), so DuckDB recomputes every region closed-form.
_REGION_RECTS = [
    ("a", (10, 10, 120, 60), 1.0),
    ("b", (120, 10, 200, 60), 1.0),
    ("c", (300, 200, 340, 260), 1.0),
    ("d", (120, 60, 200, 100), 2.0),
    ("e1", (40, 300, 90, 460), 3.0),
    ("e2", (0, 350, 130, 400), 3.0),
]


def _ensure_regions_pyramid(spark: SparkSession) -> str:
    """Memoized rasterize->write_level fixture for the region-label oracle."""
    path = f"{_REGIONS_ORACLE_DIR}/pyr"
    done = f"{_REGIONS_ORACLE_DIR}/_done"
    if os.path.exists(done):
        return path
    import shutil

    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    shutil.rmtree(_REGIONS_ORACLE_DIR, ignore_errors=True)
    os.makedirs(_REGIONS_ORACLE_DIR, exist_ok=True)
    polys = [
        {
            "polygon_id": pid,
            "ring": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
            "value": v,
        }
        for pid, (x0, y0, x1, y1), v in _REGION_RECTS
    ]
    tiles = rasterize_polygons(spark, polys, (512, 512), tilesize=128)
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 128, 512, 512, "rasterize", "-")
    open(done, "w").close()
    return path


_PROX_ORACLE_DIR = "/dev/shm/psjl_prox_oracle_v1"
_PROX_R = 5
_PROX_TARGET = 7.0


def q_raster_proximity_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Proximity raster (raster.raster_proximity, r8 — gdal_proximity
    analog) composed with write_level + raster_histogram: exact per-value
    counts of SQUARED distances to the nearest value-7 pixel of the zonal
    mosaic within radius 5 (-1 = unreachable, counted only over emitted
    tiles — tiles with at least one reached pixel). DuckDB replays the
    exact minimum with a bounded offset join (121 offsets, dd <= 25) over
    the closed-form target predicate. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import (
        raster_histogram,
        raster_proximity,
    )
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    src = _ensure_zonal_pyramid(spark)
    path = f"{_PROX_ORACLE_DIR}/prox"
    done = f"{_PROX_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_PROX_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_PROX_ORACLE_DIR, exist_ok=True)
        write_level(
            raster_proximity(spark, src, _PROX_TARGET, _PROX_R, z=0), path, 0
        )
        write_multiscales(path, 0, 128, 512, 512, "proximity", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("d2"),
        F.col("n").cast("long").alias("n"),
    )


_FILL_ORACLE_DIR = "/dev/shm/psjl_fill_oracle_v1"
_FILL_R = 5
_FILL_NODATA = 7.0


def q_fillnodata_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Nodata interpolation (raster.fillnodata, r8 — gdal_fillnodata
    nearest-valid analog) composed with write_level + raster_histogram:
    every value-7 pixel of the zonal mosaic takes the VALUE of its
    nearest non-7 pixel within radius 5 (exact squared-Euclidean,
    smaller-value tiebreak), unreachable pixels keep 7; exact per-value
    counts of the filled raster. DuckDB replays the lexicographic
    (d^2, value) argmin as MIN(dd*256 + v) over the bounded offset set
    (dd <= 25 implies Chebyshev <= 5) — all-integer, hence exact.
    Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import (
        fillnodata,
        raster_histogram,
    )
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    src = _ensure_zonal_pyramid(spark)
    path = f"{_FILL_ORACLE_DIR}/fill"
    done = f"{_FILL_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_FILL_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_FILL_ORACLE_DIR, exist_ok=True)
        write_level(
            fillnodata(spark, src, _FILL_NODATA, _FILL_R, z=0), path, 0
        )
        write_multiscales(path, 0, 128, 512, 512, "fillnodata", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("value"),
        F.col("n").cast("long").alias("n"),
    )


_ROLL_ORACLE_DIR = "/dev/shm/psjl_roll_oracle_v1"
_ROLL_T = 6
_ROLL_DROPPED = (0, 0, 2)  # (tx, ty, t) frame-tile absent from storage


def _ensure_rolling_cube(spark: SparkSession) -> str:
    """Memoized 256x256 cube (2x2 tiles of 128) over t = 0..5 with the
    closed-form slice formula v = ((16*(gx+gy) + xor(x, y)) % 256 + 7t)
    % 256 and one frame-tile dropped from storage (absent plane)."""
    import numpy as np

    from pyramidscheme_jl_spark.operators.build import PyramidSpec, _tile_row
    from pyramidscheme_jl_spark.operators.cube import (
        CUBE_TILE_SCHEMA,
        write_cube_level,
    )
    from pyramidscheme_jl_spark.sources.catalog import write_multiscales

    path = f"{_ROLL_ORACLE_DIR}/cube"
    done = f"{_ROLL_ORACLE_DIR}/_done"
    if os.path.exists(done):
        return path
    import shutil

    shutil.rmtree(_ROLL_ORACLE_DIR, ignore_errors=True)
    os.makedirs(_ROLL_ORACLE_DIR, exist_ok=True)
    spec = PyramidSpec(256, 256, 128)
    x = np.arange(128)[None, :]
    y = np.arange(128)[:, None]
    rows = []
    for t in range(_ROLL_T):
        for gy in range(2):
            for gx in range(2):
                if (gx, gy, t) == _ROLL_DROPPED:
                    continue
                v = (((16 * (gx + gy) + np.bitwise_xor(x, y)) % 256 + 7 * t)
                     % 256).astype(np.float64)
                rows.append(dict(_tile_row(spec, 0, gx, gy, v), t=t))
    df = spark.createDataFrame(rows, CUBE_TILE_SCHEMA)
    write_cube_level(df, path, 0)
    write_multiscales(path, spec.nlevels, 128, 256, 256, "mean", "-")
    open(done, "w").close()
    return path


def q_cube_rolling_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling temporal mean (cube_time.cube_rolling, r8 — the xarray
    ``.rolling(t=3)`` smoothing pass): trailing 3-frame NaN-aware means
    over the 6-slice cube with one dropped frame-tile, via the
    chunk+backward-halo grouping (t_chunk=2 — the path that must be
    bit-identical to the single-gather). Per-(t, tile) stats: integer
    sums + one exactly-rounded divide -> 2^20-quantized sums are
    bit-portable. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.cube_time import cube_rolling

    path = _ensure_rolling_cube(spark)
    res = cube_rolling(spark, path, stat="mean", window=3, t_chunk=2)

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                u = np.floor(a[m] * 1048576.0 + 0.5).astype(np.int64)
                rows.append({
                    "t": int(r.t), "tx": int(r.tx), "ty": int(r.ty),
                    "n_valid": int(m.sum()), "sum_u": int(u.sum()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return res.mapInPandas(
        gen, "t long, tx long, ty long, n_valid long, sum_u long"
    )


_GRIDSTREAM_DIR = "/dev/shm/psjl_gridstream_oracle_v1"
_GRIDSTREAM_N = 40000


def _ensure_streamed_grid(spark: SparkSession) -> str:
    """Memoized point-stream fixture: 40k closed-form lattice points
    split into 3 source files, ingested via streaming.points (one
    micro-batch per file), then compacted once — so the oracle crosses
    the append AND the fold paths."""
    from pyramidscheme_jl_spark.streaming.points import (
        compact_grid_state,
        ingest_points,
    )

    state = f"{_GRIDSTREAM_DIR}/state"
    done = f"{_GRIDSTREAM_DIR}/_done"
    if os.path.exists(done):
        return state
    import shutil

    shutil.rmtree(_GRIDSTREAM_DIR, ignore_errors=True)
    os.makedirs(_GRIDSTREAM_DIR, exist_ok=True)
    src = f"{_GRIDSTREAM_DIR}/src"
    pts = spark.range(_GRIDSTREAM_N).select(
        (((F.col("id") * 13) % 2560) / 10.0).alias("x"),
        (((F.col("id") * 29) % 2560) / 10.0).alias("y"),
        (F.col("id") % 97).cast("double").alias("value"),
        (F.col("id") % 3).alias("b"),
    )
    for b in range(3):
        pts.where(F.col("b") == b).drop("b").coalesce(1).write.parquet(
            f"{src}/b{b}"
        )
    ingest_points(
        spark, f"{src}/*", state, _GRID_SHAPE, max_files_per_trigger=1
    ).awaitTermination(300)
    compact_grid_state(spark, state)
    open(done, "w").close()
    return state


def q_streamed_grid_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed point gridding (streaming.points, r8 — the live-heatmap
    shape): 3 micro-batches append additive binned partials, one
    compaction folds them, and ``grid_from_state`` serves the same disc
    means the batch ``grid_points`` would compute over the union —
    batching-independent by construction, so DuckDB replays the grid
    closed-form from the full point set. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.streaming.points import grid_from_state

    state = _ensure_streamed_grid(spark)
    res = grid_from_state(
        spark, state, method="mean", radius=_GRID_R, tilesize=_GRID_TS
    )
    return _grid_tile_stats(res, quantize=True)


_RELIEF_RAMP = ((0.0, (0, 0, 128)), (100.0, (255, 255, 0)), (223.0, (255, 0, 0)))


def q_color_relief_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Color relief (raster.color_relief, r8 — gdaldem color-relief
    analog) over the zonal mosaic: exact counts of packed RGB triples
    (r*65536 + g*256 + b). Each channel is integer products + ONE
    exactly-rounded divide + one add, rounded half-up — bit-portable,
    so the packed histogram is exact. Exercises the c=3 multi-channel
    TILE_SCHEMA path end-to-end. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.operators.raster import color_relief

    src = _ensure_zonal_pyramid(spark)
    df = color_relief(spark, src, _RELIEF_RAMP, z=0)

    def gen(batches):
        for pdf in batches:
            parts = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.int64)
                packed = a[..., 0] * 65536 + a[..., 1] * 256 + a[..., 2]
                u, n = np.unique(packed, return_counts=True)
                parts.append(pd.DataFrame({"rgb": u, "n": n.astype(np.int64)}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return (
        df.mapInPandas(gen, "rgb long, n long")
        .groupBy("rgb")
        .agg(F.sum("n").cast("long").alias("n"))
    )


_GRID_SHAPE = (256, 256)
_GRID_TS = 64
_GRID_R = 3


def _grid_points_df(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sf-SCALED point cloud from customer keys (the
    radius-join precedent): integer lattice arithmetic + one exactly-
    rounded /10.0, so both engines bin identically; values are small
    ints, so every disc sum is exact."""
    return _t(spark, sf, "customer").select(
        (((F.col("c_custkey") * 13) % 2560) / 10.0).alias("x"),
        (((F.col("c_custkey") * 29) % 2560) / 10.0).alias("y"),
        (F.col("c_custkey") % 97).cast("double").alias("value"),
    )


def _grid_tile_stats(df: DataFrame, quantize: bool) -> DataFrame:
    """Per-tile (n_filled, sum) over a gridded TILE_SCHEMA result:
    integer sums when values are ints (``quantize=False``), else
    order-insensitive FLOOR(v * 2^20 + 0.5) quantization per pixel."""
    import numpy as np
    import pandas as pd

    from pyramidscheme_jl_spark.functions.codec import decode_tile

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_tile(r.bytes, r.h, r.w, r.dtype, r.c).astype(np.float64)
                m = np.isfinite(a)
                if quantize:
                    u = np.floor(a[m] * 1048576.0 + 0.5).astype(np.int64)
                else:
                    u = a[m].astype(np.int64)
                rows.append({
                    "tx": int(r.tx), "ty": int(r.ty),
                    "n_filled": int(m.sum()), "sum_u": int(u.sum()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(gen, "tx long, ty long, n_filled long, sum_u long")


def q_grid_points_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Point gridding (gridding.grid_points, r8 — gdal_grid ``average``
    analog, lattice-snapped disc): per-tile filled-pixel counts + the
    2^20-quantized sum of disc means over a 256x256 grid of customer-key
    points. The disc sums are integer (int-valued points), the mean is
    ONE exactly-rounded divide, so the quantized sums are bit-portable.
    Scales with ``sf`` (real table input)."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.gridding import grid_points

    res = grid_points(
        spark, _grid_points_df(spark, sf), _GRID_SHAPE, method="mean",
        radius=_GRID_R, tilesize=_GRID_TS,
    )
    return _grid_tile_stats(res, quantize=True)


def q_grid_points_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-point gridding (gridding.grid_points ``nearest``, r8 —
    the value-carrying EDT shared with ``fillnodata``): per-tile filled
    counts + INTEGER value sums (values are small ints — no quantization
    at all). DuckDB replays the lexicographic (d^2, min-value) argmin as
    MIN(dd*128 + v) over the bounded offsets. Scales with ``sf``."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.gridding import grid_points

    res = grid_points(
        spark, _grid_points_df(spark, sf), _GRID_SHAPE, method="nearest",
        radius=_GRID_R, tilesize=_GRID_TS,
    )
    return _grid_tile_stats(res, quantize=False)


_XTAB_ORACLE_DIR = "/dev/shm/psjl_xtab_oracle_v1"


def q_crosstab_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Two-raster contingency table (raster.raster_crosstab, r8): the
    zonal mosaic crossed with its own stored 3x3 erosion (morphology
    min) — a genuinely 2-D integer table, not a function of one margin.
    DuckDB recomputes both planes closed-form (vb = MIN over the 9
    in-bounds offsets) and counts pairs. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import (
        morphology,
        raster_crosstab,
    )
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    src = _ensure_zonal_pyramid(spark)
    path = f"{_XTAB_ORACLE_DIR}/erode"
    done = f"{_XTAB_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_XTAB_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_XTAB_ORACLE_DIR, exist_ok=True)
        write_level(morphology(spark, src, op="erode", radius=1, z=0), path, 0)
        write_multiscales(path, 0, 128, 512, 512, "erode", "-")
        open(done, "w").close()
    return raster_crosstab(spark, src, path).select(
        F.col("va").cast("long").alias("va"),
        F.col("vb").cast("long").alias("vb"),
        F.col("n").cast("long").alias("n"),
    )


_CONTOUR_LEVELS = (127.5, 200.25)


def q_contour_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Contour extraction (raster.contour_segments, r8 — gdal_contour
    marching-squares analog) over the zonal mosaic: per-level segment
    count, quantized endpoint-coordinate sums, and the pairing-sensitive
    symmetric term sum(qx0*qy1 + qx1*qy0) — which distinguishes the
    center-mean saddle rule (plain endpoint sums cannot: a saddle uses
    all four crossings under either pairing). Every endpoint is one
    exactly-rounded IEEE divide + adds (no libm), so the 2^10
    quantization is bit-portable; levels are dyadic rationals so corner
    comparisons are exact. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import contour_segments

    src = _ensure_zonal_pyramid(spark)
    segs = contour_segments(spark, src, _CONTOUR_LEVELS, z=0)

    def q(col):
        return F.floor(col * F.lit(1024.0) + F.lit(0.5)).cast("long")

    qd = segs.select(
        F.floor(F.col("level") * F.lit(4.0) + F.lit(0.5))
        .cast("long")
        .alias("level_q"),
        q(F.col("x0")).alias("qx0"),
        q(F.col("y0")).alias("qy0"),
        q(F.col("x1")).alias("qx1"),
        q(F.col("y1")).alias("qy1"),
    )
    return qd.groupBy("level_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sum(F.col("qx0") + F.col("qx1")).cast("long").alias("sum_qx"),
        F.sum(F.col("qy0") + F.col("qy1")).cast("long").alias("sum_qy"),
        F.sum(
            F.col("qx0") * F.col("qy1") + F.col("qx1") * F.col("qy0")
        ).cast("long").alias("pair_term"),
    )


def q_contour_topology(spark: SparkSession, sf: str) -> DataFrame:
    """Polyline stitching (raster.contour_polylines, r8 — the CC half of
    gdal_contour): per-level segment count and OPEN-polyline count. The
    open count is oracle-exact without replaying the iterative CC via
    the path/cycle identity ``n_open = S - E`` (every component of a
    max-degree-2 graph is a path or cycle; paths contribute exactly one
    to S - E, cycles zero), where E = #degree-2 endpoints — and both
    engines compute bit-identical endpoint doubles, so each side's OWN
    exact-equality grouping yields the same E. The closed flags
    themselves are pinned in pytest. Fixed-size by design; ``sf``
    unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.raster import contour_polylines

    src = _ensure_zonal_pyramid(spark)
    pl = contour_polylines(spark, src, _CONTOUR_LEVELS, z=0)
    return pl.groupBy(
        F.floor(F.col("level") * F.lit(4.0) + F.lit(0.5))
        .cast("long").alias("level_q")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.countDistinct(
            F.when(~F.col("closed"), F.col("polyline_id"))
        ).cast("long").alias("n_open"),
    )


def _contour_topology_sql() -> str:
    """Per-level S and S - E over the same closed-form corner field:
    endpoint rows are one exact double per crossed edge per cell (each
    crossed edge belongs to exactly one segment), grouped by exact
    equality; E = endpoints shared by two cells."""

    def val(xe: str, ye: str) -> str:
        return (
            f"CAST((16*((({xe})//128)+(({ye})//128))"
            f" + xor(({xe})%128, ({ye})%128)) % 256 AS DOUBLE)"
        )

    levels = ", ".join(f"({v!r})" for v in _CONTOUR_LEVELS)
    return f"""
        WITH cs AS (SELECT UNNEST(range(0, 511)) AS i),
             lv AS (SELECT * FROM (VALUES {levels}) t(L)),
             cell AS (
               SELECT a.i AS cx, b.i AS cy,
                      {val('a.i', 'b.i')} AS tl,
                      {val('a.i + 1', 'b.i')} AS tr,
                      {val('a.i', 'b.i + 1')} AS bl,
                      {val('a.i + 1', 'b.i + 1')} AS br
               FROM cs a CROSS JOIN cs b),
             cl AS (
               SELECT cx, cy, L, tl, tr, bl, br,
                      (tl >= L) <> (tr >= L) AS ct,
                      (tr >= L) <> (br >= L) AS cr,
                      (bl >= L) <> (br >= L) AS cb,
                      (tl >= L) <> (bl >= L) AS ce
               FROM cell CROSS JOIN lv),
             eps AS (
               SELECT L, cx + (L - tl)/(tr - tl) AS x, CAST(cy AS DOUBLE) AS y
               FROM cl WHERE ct
               UNION ALL
               SELECT L, cx + 1.0, cy + (L - tr)/(br - tr) FROM cl WHERE cr
               UNION ALL
               SELECT L, cx + (L - bl)/(br - bl), cy + 1.0 FROM cl WHERE cb
               UNION ALL
               SELECT L, CAST(cx AS DOUBLE), cy + (L - tl)/(bl - tl) FROM cl WHERE ce),
             segs AS (
               SELECT L, CAST(SUM((CASE WHEN ct THEN 1 ELSE 0 END
                                   + CASE WHEN cr THEN 1 ELSE 0 END
                                   + CASE WHEN cb THEN 1 ELSE 0 END
                                   + CASE WHEN ce THEN 1 ELSE 0 END) // 2) AS BIGINT) AS S
               FROM cl GROUP BY L),
             deg AS (SELECT L, x, y, COUNT(*) AS c FROM eps GROUP BY 1, 2, 3),
             e2 AS (SELECT L, CAST(COUNT(*) AS BIGINT) AS E
                    FROM deg WHERE c = 2 GROUP BY L)
        SELECT CAST(FLOOR(s.L*4.0 + 0.5) AS BIGINT) AS level_q,
               s.S AS n_segments,
               s.S - COALESCE(e2.E, 0) AS n_open
        FROM segs s LEFT JOIN e2 USING (L)
    """


def _contour_oracle_sql() -> str:
    """DuckDB marching-squares replay over the closed-form mosaic.

    Per 2x2 cell: corner values from the pixel formula, crossing
    coordinates via the engine's exact op order (one exactly-rounded
    divide, then the add, then *1024 + 0.5, then FLOOR). The symmetric
    pair term for a 2-crossing cell uses the identity
    (qxa+qxb)(qya+qyb) - (qxa*qya + qxb*qyb) = qxa*qyb + qxb*qya; only
    saddles (4 crossings) need the explicit center-mean pairing CASE."""

    def val(xe: str, ye: str) -> str:
        return (
            f"CAST((16*((({xe})//128)+(({ye})//128))"
            f" + xor(({xe})%128, ({ye})%128)) % 256 AS DOUBLE)"
        )

    levels = ", ".join(f"({v!r})" for v in _CONTOUR_LEVELS)
    return f"""
        WITH cs AS (SELECT UNNEST(range(0, 511)) AS i),
             lv AS (SELECT * FROM (VALUES {levels}) t(L)),
             cell AS (
               SELECT a.i AS cx, b.i AS cy,
                      {val('a.i', 'b.i')} AS tl,
                      {val('a.i + 1', 'b.i')} AS tr,
                      {val('a.i', 'b.i + 1')} AS bl,
                      {val('a.i + 1', 'b.i + 1')} AS br
               FROM cs a CROSS JOIN cs b),
             cl AS (
               SELECT cx, cy, L, tl, tr, bl, br,
                      (tl >= L) <> (tr >= L) AS ct,
                      (tr >= L) <> (br >= L) AS cr,
                      (bl >= L) <> (br >= L) AS cb,
                      (tl >= L) <> (bl >= L) AS ce,
                      ((tl + tr + bl + br)/4.0 >= L) = (tl >= L) AS with_tl
               FROM cell CROSS JOIN lv),
             pts AS (
               SELECT cx, cy, L, ct, cr, cb, ce, with_tl,
                      CASE WHEN ct THEN CAST(FLOOR((cx + (L - tl)/(tr - tl))*1024.0 + 0.5) AS BIGINT) END AS qtx,
                      CAST(FLOOR(CAST(cy AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS qty,
                      CAST(FLOOR((cx + 1.0)*1024.0 + 0.5) AS BIGINT) AS qrx,
                      CASE WHEN cr THEN CAST(FLOOR((cy + (L - tr)/(br - tr))*1024.0 + 0.5) AS BIGINT) END AS qry,
                      CASE WHEN cb THEN CAST(FLOOR((cx + (L - bl)/(br - bl))*1024.0 + 0.5) AS BIGINT) END AS qbx,
                      CAST(FLOOR((cy + 1.0)*1024.0 + 0.5) AS BIGINT) AS qby,
                      CAST(FLOOR(CAST(cx AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS qlx,
                      CASE WHEN ce THEN CAST(FLOOR((cy + (L - tl)/(bl - tl))*1024.0 + 0.5) AS BIGINT) END AS qly
               FROM cl),
             agg AS (
               SELECT cx, cy, L,
                      (CASE WHEN ct THEN 1 ELSE 0 END + CASE WHEN cr THEN 1 ELSE 0 END
                       + CASE WHEN cb THEN 1 ELSE 0 END + CASE WHEN ce THEN 1 ELSE 0 END) AS ncross,
                      (CASE WHEN ct THEN qtx ELSE 0 END + CASE WHEN cr THEN qrx ELSE 0 END
                       + CASE WHEN cb THEN qbx ELSE 0 END + CASE WHEN ce THEN qlx ELSE 0 END) AS sqx,
                      (CASE WHEN ct THEN qty ELSE 0 END + CASE WHEN cr THEN qry ELSE 0 END
                       + CASE WHEN cb THEN qby ELSE 0 END + CASE WHEN ce THEN qly ELSE 0 END) AS sqy,
                      (CASE WHEN ct THEN qtx*qty ELSE 0 END + CASE WHEN cr THEN qrx*qry ELSE 0 END
                       + CASE WHEN cb THEN qbx*qby ELSE 0 END + CASE WHEN ce THEN qlx*qly ELSE 0 END) AS selfxy,
                      with_tl, qtx, qty, qrx, qry, qbx, qby, qlx, qly
               FROM pts),
             seg AS (
               SELECT L, ncross // 2 AS nseg, sqx, sqy,
                      CASE WHEN ncross = 2 THEN sqx*sqy - selfxy
                           WHEN with_tl THEN qtx*qry + qrx*qty + qbx*qly + qlx*qby
                           ELSE qtx*qly + qlx*qty + qbx*qry + qrx*qby END AS pair
               FROM agg WHERE ncross > 0)
        SELECT CAST(FLOOR(L*4.0 + 0.5) AS BIGINT) AS level_q,
               CAST(SUM(nseg) AS BIGINT) AS n_seg,
               CAST(SUM(sqx) AS BIGINT) AS sum_qx,
               CAST(SUM(sqy) AS BIGINT) AS sum_qy,
               CAST(SUM(pair) AS BIGINT) AS pair_term
        FROM seg GROUP BY 1
    """


def q_zonal_cube_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(polygon, t) EXACT quantiles over the streamed (x, y, t) cube
    (joins.zonal_quantiles_cube, r8): the time axis rides the refine
    keys, the value-histogram aggregate, and the cumulative windows —
    same type-1 rule as ``zonal_quantiles``, same all-integer
    portability. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles_cube

    path = _ensure_streamed_cube(spark)
    res = zonal_quantiles_cube(spark, path, _ZONAL_POLYS, qs=(0.25, 0.5, 0.75), z=0)
    return res.select(
        "polygon_id",
        F.col("t").cast("long").alias("t"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("q250").cast("long").alias("q250"),
        F.col("q500").cast("long").alias("q500"),
        F.col("q750").cast("long").alias("q750"),
    )


_SIEVE_ORACLE_DIR = "/dev/shm/psjl_sieve_oracle_v1"

#: sieve fixture: A large; B small touching A (contact 20) AND C (contact
#: 10) -> takes A's value; C large; D small isolated -> unchanged; E+F
#: small touching only each other -> unchanged (single-pass rule)
_SIEVE_RECTS = [
    ("a", (0, 0, 200, 100), 1.0),
    ("b", (200, 0, 210, 20), 2.0),
    ("c", (200, 20, 260, 90), 3.0),
    ("d", (400, 400, 410, 410), 4.0),
    ("e", (0, 300, 10, 310), 5.0),
    ("f", (10, 300, 20, 310), 6.0),
]
_SIEVE_MIN_PX = 300


def q_region_sieve(spark: SparkSession, sf: str) -> DataFrame:
    """Composed cleanup loop (r8): rasterize -> region_sieve (small
    regions absorb their max-contact large neighbor's VALUE; GDAL
    gdal_sieve analog) -> write_level -> region_label over the SIEVED
    raster. The post-sieve region structure is closed-form: B (200 px,
    contacts A=20 > C=10) takes A's value and merges into it; D (isolated
    small) and E/F (small touching only small) stay. Fixed-size by
    design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons
    from pyramidscheme_jl_spark.operators.regions import (
        region_label,
        region_sieve,
    )
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    path = f"{_SIEVE_ORACLE_DIR}/sieved"
    done = f"{_SIEVE_ORACLE_DIR}/_done"
    if not os.path.exists(done):
        shutil.rmtree(_SIEVE_ORACLE_DIR, ignore_errors=True)
        os.makedirs(_SIEVE_ORACLE_DIR, exist_ok=True)
        src = f"{_SIEVE_ORACLE_DIR}/src"
        polys = [
            {"polygon_id": pid,
             "ring": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
             "value": v}
            for pid, (x0, y0, x1, y1), v in _SIEVE_RECTS
        ]
        tiles = rasterize_polygons(spark, polys, (512, 512), tilesize=128)
        write_level(tiles, src, 0)
        write_multiscales(src, 0, 128, 512, 512, "rasterize", "-")
        write_level(region_sieve(spark, src, min_px=_SIEVE_MIN_PX, z=0), path, 0)
        write_multiscales(path, 0, 128, 512, 512, "sieved", "-")
        open(done, "w").close()
    return region_label(spark, path, z=0).select(
        F.col("region_id").cast("long").alias("region_id"),
        F.col("value").cast("long").alias("value"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("xmin").cast("long").alias("xmin"),
        F.col("ymin").cast("long").alias("ymin"),
        F.col("xmax").cast("long").alias("xmax"),
        F.col("ymax").cast("long").alias("ymax"),
    )


def q_region_label_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Composed raster<->vector loop (r8): rasterize rects ->
    region_label_raster (per-pixel region ids, nodata=-1) -> write_level
    -> raster_histogram (exact per-value counts). Every pixel of the
    labeled raster is closed-form in DuckDB: region ids via a window MIN
    over each declared region's pixel set, the -1 row = emitted-tile
    area minus labeled pixels. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    import shutil

    from pyramidscheme_jl_spark.operators.raster import raster_histogram
    from pyramidscheme_jl_spark.operators.regions import region_label_raster
    from pyramidscheme_jl_spark.sources.catalog import (
        write_level,
        write_multiscales,
    )

    src = _ensure_regions_pyramid(spark)
    path = f"{_REGIONS_ORACLE_DIR}/labels"
    done = f"{_REGIONS_ORACLE_DIR}/_labels_done"
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        write_level(region_label_raster(spark, src, z=0), path, 0)
        write_multiscales(path, 0, 128, 512, 512, "labels", "-")
        open(done, "w").close()
    return raster_histogram(spark, path, z=0).select(
        F.col("value").cast("long").alias("region_id"),
        F.col("n").cast("long").alias("n"),
    )


def q_zonal_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-polygon pixel quantiles (joins.zonal_quantiles, r8): the
    order statistic zonal_raster's scalar tiers can't express — per-
    (polygon, value) COUNT partials (bounded by occupied values x tiles,
    never pixels), one hash aggregate, a per-polygon cumulative window,
    type-1 rule (smallest value with cum >= ceil(q*n)). All-integer after
    the decode, so DuckDB reruns the identical window construction on the
    closed-form mosaic pixels. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.joins import zonal_quantiles

    path = _ensure_zonal_pyramid(spark)
    res = zonal_quantiles(spark, path, _ZONAL_POLYS, qs=(0.25, 0.5, 0.75), z=0)
    return res.select(
        "polygon_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("q250").cast("long").alias("q250"),
        F.col("q500").cast("long").alias("q500"),
        F.col("q750").cast("long").alias("q750"),
    )


def q_region_label(spark: SparkSession, sf: str) -> DataFrame:
    """Connected-component region table (regions.region_label, r8 — the
    GDAL ``polygonize`` analytics analog) over a rasterized-rects fixture:
    per-tile run union-find -> boundary-strip stitch (one row per tile
    edge) -> pointer-doubled global resolve (dedup.connected_components)
    -> one hash aggregate. The fixture's merged regions cross tile
    boundaries by construction; ``region_id`` is the row-major index of
    the region's first pixel, so DuckDB recomputes every region
    closed-form from the same rect list. Fixed-size by design (the
    subsystem under test is the stitch plan); ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.regions import region_label

    path = _ensure_regions_pyramid(spark)
    return region_label(spark, path, z=0).select(
        F.col("region_id").cast("long").alias("region_id"),
        F.col("value").cast("long").alias("value"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("xmin").cast("long").alias("xmin"),
        F.col("ymin").cast("long").alias("ymin"),
        F.col("xmax").cast("long").alias("xmax"),
        F.col("ymax").cast("long").alias("ymax"),
    )


def q_region_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Polygonize attribute table (regions.region_stats, r8): region_label
    plus exact first-moment sums from the run rows — sum_x via the
    consecutive-integer closed form per run, all JVM integer exprs.
    DuckDB recomputes SUM(X)/SUM(Y) per declared region. Fixed-size by
    design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.regions import region_stats

    path = _ensure_regions_pyramid(spark)
    return region_stats(spark, path, z=0).select(
        F.col("region_id").cast("long").alias("region_id"),
        F.col("value").cast("long").alias("value"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("xmin").cast("long").alias("xmin"),
        F.col("ymin").cast("long").alias("ymin"),
        F.col("xmax").cast("long").alias("xmax"),
        F.col("ymax").cast("long").alias("ymax"),
        F.col("sum_x").cast("long").alias("sum_x"),
        F.col("sum_y").cast("long").alias("sum_y"),
    )


def q_region_perimeter(spark: SparkSession, sf: str) -> DataFrame:
    """Exact region perimeters (regions.region_stats perimeter=True, r8
    — the last polygonize attribute): P = 4*n_px - 2*E_int with the
    internal-edge count decomposed into run pairs + a runs self-join +
    the value-filtered strip join, all JVM integers. DuckDB counts the
    horizontal/vertical same-region neighbor pairs directly over the
    declared pixel sets. Fixed-size by design; ``sf`` unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.operators.regions import region_stats

    path = _ensure_regions_pyramid(spark)
    return region_stats(spark, path, z=0, perimeter=True).select(
        F.col("region_id").cast("long").alias("region_id"),
        F.col("n_px").cast("long").alias("n_px"),
        F.col("perimeter").cast("long").alias("perimeter"),
    )


def q_embedding_ivfpq_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ top-k served from the PERSISTED index (round 8): the query
    path opens the manifest (trained centroids/codebooks/row count — no
    re-train, no re-encode, no count job) and scans ONLY the probed
    ``list_id=`` partitions of the stored codes. Shares
    ``_ivfpq_score_topk`` with ``ivfpq_topk`` (and ``pq_topk``, its
    one-list case), so ranks are bit-identical to ``embedding_ivfpq_topk``
    and the same DuckDB twin applies."""
    path = _ensure_ivfpq_index(spark, sf)
    idx = S.open_ivfpq_index(spark, path)
    emb = _t(spark, sf, "embeddings")
    return idx.topk(
        emb.where(F.col("vec_id") < 5),
        k=_IVFPQ["k"], nprobe=_IVFPQ["nprobe"],
        rerank=None,  # the oracle pins the raw bit-exact ADC order
    )


# ---------------------------------------------------------------------------
# prebuilt import -> overview extension -> window serve (round 8, VERDICT r7
# #8): the composed S3 + buildpyramids(resume) + selectlevel path in one row
# ---------------------------------------------------------------------------

_PREBUILT_ORACLE_DIR = "/dev/shm/psjl_prebuilt_oracle_v1"
_PB_G = 8  # 2048x2048 uint8 base; levels 0..3 (z=3 is one 256px tile)
_PB_EXTENT = (256.0, 256.0, 1280.0, 1024.0)
_PB_TARGET = (512, 512)


def _ensure_prebuilt_pyramid(spark: SparkSession) -> str:
    """Memoized composed fixture: a foreign overview dataset (base uint8
    plane + its TRUE float64 2x2-mean overview, both closed-form) imported
    via ``from_prebuilt_levels``, then extended to the full plan with
    ``build_overviews(resume=True)`` — import preserves foreign data
    exactly; only the missing top levels are built."""
    path = f"{_PREBUILT_ORACLE_DIR}/pyr"
    done = f"{_PREBUILT_ORACLE_DIR}/_done"
    if os.path.exists(done):
        return path
    import shutil

    import numpy as np

    from pyramidscheme_jl_spark.operators.build import build_overviews
    from pyramidscheme_jl_spark.sources.prebuilt import (
        PREBUILT_SCHEMA,
        from_prebuilt_levels,
    )
    from pyramidscheme_jl_spark.sources.synth import mosaic_pixels

    shutil.rmtree(_PREBUILT_ORACLE_DIR, ignore_errors=True)
    os.makedirs(_PREBUILT_ORACLE_DIR)
    base = mosaic_pixels(G=_PB_G)  # (16*(gx+gy) + (x XOR y)) % 256
    n = base.shape[0]
    # the foreign writer's existing overview: exact 2x2 mean, float64 — every
    # value is dyadic (sum-of-4-uint8 / 4), so the whole mean cascade stays
    # EXACT in f64 and equals the direct 2^z-block mean (full blocks only)
    lvl1 = base.astype(np.float64).reshape(n // 2, 2, n // 2, 2).mean(axis=(1, 3))
    rows = [
        (0, 0, n, n, "uint8", base.tobytes()),
        (0, 1, n // 2, n // 2, "float64", lvl1.tobytes()),
    ]
    src = f"{_PREBUILT_ORACLE_DIR}/src"
    spark.createDataFrame(rows, PREBUILT_SCHEMA).write.parquet(src)
    from_prebuilt_levels(spark, src, path, run_id="imp")
    build_overviews(spark, path, reducer="mean", run_id="imp", resume=True)
    open(done, "w").close()
    return path


def q_prebuilt_extend_window(spark: SparkSession, sf: str) -> DataFrame:
    """S3+K1+L1 composed oracle row (VERDICT r7 #8): per-tile stats of a
    pyramid whose levels 0-1 were IMPORTED from a foreign overview dataset
    and levels 2+ BUILT by ``build_overviews(resume=True)``, vs DuckDB's
    closed-form recomputation; ``in_window`` marks the tiles a
    ``selectlevel`` viewport read (L1) would serve for ``_PB_EXTENT`` at
    ``_PB_TARGET`` — the serve-side tile pruning predicate. Fixed-size by
    design (the subsystem under test is the composed import/extend/serve
    path, not sf scaling); ``sf`` is unused."""
    _ensure_shipped(spark)
    from pyramidscheme_jl_spark.sources.catalog import read_tiles

    path = _ensure_prebuilt_pyramid(spark)
    n = _PB_G * 256
    nlev = 0
    while (n >> (nlev + 1)) >= 256:
        nlev += 1
    zwin = select_level((n, n), nlev, _PB_EXTENT, _PB_TARGET)
    tx0 = (int(_PB_EXTENT[0]) >> zwin) // 256
    tx1 = ((int(_PB_EXTENT[2]) - 1) >> zwin) // 256
    ty0 = (int(_PB_EXTENT[1]) >> zwin) // 256
    ty1 = ((int(_PB_EXTENT[3]) - 1) >> zwin) // 256

    def q(c: str):
        return F.expr(f"CAST(FLOOR({c} * 1048576 + 0.5) AS BIGINT)").alias(f"{c}_u")

    return read_tiles(spark, path).select(
        F.col("z").cast("long").alias("z"),
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        q("vmin"),
        q("vmax"),
        q("vmean"),
        (
            (F.col("z") == zwin)
            & F.col("tx").between(tx0, tx1)
            & F.col("ty").between(ty0, ty1)
        ).cast("long").alias("in_window"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the 2x2 block-aggregation kernel on sf0.001."""
    return q_block_agg_mean(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the driver's correctness harness verifies the FIRST
    # ~50 entries of this dict (r7 checked exactly registry[:50]).
    return {
        # -- r9 ordering (VERDICT r8 #1: changed-rows-first) -----------------
        # (a) operators whose implementation changed in r9 — the driver's
        #     ~50-row correctness window must re-verify every one of them;
        # (b) rows last driver-verified in r7 or earlier (stalest first);
        # (c) rows verified by the r8 driver window (freshest) at the tail.
        # tools/check_oracle.py still validates the full registry locally.
        # -- (a) r9-changed implementations ---------------------------------
        "dedup_components": q_dedup_components,
        "minhash_lsh": q_minhash_lsh,
        "hamming_near_dup": q_hamming_near_dup,
        "simhash": q_simhash,
        "jaccard_pairs": q_jaccard_pairs,
        "docs_contamination": q_docs_contamination,
        "docs_repetition": q_docs_repetition,
        "cosine_near_dup": q_cosine_near_dup,
        "embedding_lsh_topk_all": q_embedding_lsh_topk_all,
        "embedding_topk": q_embedding_topk,
        "text_quality": q_text_quality,
        "language_id": q_language_id,
        "fingerprint": q_fingerprint,
        "token_stats": q_token_stats,
        "bpe_tokens": q_bpe_tokens,
        "lines_near_pairs": q_lines_near_pairs,
        "lines_snap_nearest": q_lines_snap_nearest,
        "raster_extract": q_raster_extract,
        "focal_mean_extract": q_focal_mean_extract,
        "interval_join_tiered": q_interval_join_tiered,
        "interval_overlap_orders": q_interval_overlap_orders,
        # -- (b) stalest: outside the r8-verified window ---------------------
        "events_asof_next_click": q_events_asof_next_click,
        "events_asof_nearest": q_events_asof_nearest,
        "events_sessionize": q_events_sessionize,
        "events_session_agg": q_events_session_agg,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_hash_split": q_docs_hash_split,
        "events_time_rollup": q_events_time_rollup,
        "embedding_lsh_buckets": q_embedding_lsh_buckets,
        "union_cat": q_union_cat,
        "events_topk": q_events_topk,
        "embedding_pq_topk": q_embedding_pq_topk,
        "embedding_ivfpq_topk": q_embedding_ivfpq_topk,
        "block_agg_mean": q_block_agg_mean,
        "block_agg_mean_t": q_block_agg_mean_t,
        "block_agg_minmax": q_block_agg_minmax,
        "block_agg_mode": q_block_agg_mode,
        "block_agg_median": q_block_agg_median,
        "recursive_mean_consistency": q_recursive_mean_consistency,
        "rollup_multilevel": q_rollup_multilevel,
        "selectlevel_window": q_selectlevel_window,
        "bbox_join": q_bbox_join,
        "bbox_join_cells": q_bbox_join_cells,
        "zonal_agg": q_zonal_agg,
        "knn": q_knn,
        "pip_join": q_pip_join,
        "pip_zonal": q_pip_zonal,
        "dedup_exact": q_dedup_exact,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "events_asof_click": q_events_asof_click,
        # -- (c) freshest: r8-driver-verified, unchanged in r9 ---------------
        "region_perimeter": q_region_perimeter,
        "color_relief_hist": q_color_relief_hist,
        "streamed_grid_stats": q_streamed_grid_stats,
        "contour_topology": q_contour_topology,
        "cube_rolling_stats": q_cube_rolling_stats,
        "grid_points_stats": q_grid_points_stats,
        "grid_points_nearest": q_grid_points_nearest,
        "crosstab_stats": q_crosstab_stats,
        "contour_stats": q_contour_stats,
        "fillnodata_hist": q_fillnodata_hist,
        "warp_bilinear_stats": q_warp_bilinear_stats,
        "zonal_categorical": q_zonal_categorical,
        "morphology_open_hist": q_morphology_open_hist,
        "equalize_hist": q_equalize_hist,
        "cube_trend_stats": q_cube_trend_stats,
        "region_stats": q_region_stats,
        "cube_anomaly_stats": q_cube_anomaly_stats,
        "dem_roughness_stats": q_dem_roughness_stats,
        "cube_gapfill_locf": q_cube_gapfill_locf,
        "cube_gapfill_linear": q_cube_gapfill_linear,
        "cube_composite_max": q_cube_composite_max,
        "cube_composite_mean": q_cube_composite_mean,
        "reclassify_hist": q_reclassify_hist,
        "raster_proximity_hist": q_raster_proximity_hist,
        "zonal_cube_quantiles": q_zonal_cube_quantiles,
        "region_sieve": q_region_sieve,
        "region_label_hist": q_region_label_hist,
        "zonal_quantiles": q_zonal_quantiles,
        "region_label": q_region_label,
        "warp_affine_stats": q_warp_affine_stats,
        "embedding_ivfpq_indexed": q_embedding_ivfpq_indexed,
        "prebuilt_extend_window": q_prebuilt_extend_window,
        "raster_value_histogram": q_raster_value_histogram,
        "pip_join_mp": q_pip_join_mp,
        "zonal_raster_mp": q_zonal_raster_mp,
        "rasterize_mp": q_rasterize_mp,
        "zonal_raster": q_zonal_raster,
        "rasterize_stats": q_rasterize_stats,
        "zonal_cube_stats": q_zonal_cube_stats,
        "streamed_pyramid_stats": q_streamed_pyramid_stats,
        "streamed_cube_stats": q_streamed_cube_stats,
        "geo_radius_join": q_geo_radius_join,
        "interval_join_ship": q_interval_join_ship,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_P61 = (1 << 61) - 1
_P31 = (1 << 31) - 1


def _lsh_bucket_cte(bits: int) -> str:
    """CTE chain computing the seeded hyperplane bucket per vec_id — the
    exact integer twin of S.lsh_bucket(seed=_LSH_SEED, dim=_LSH_DIM)."""
    signs = S.hyperplane_signs(bits, _LSH_DIM, _LSH_SEED)
    vals = ", ".join(
        f"({b}, {i + 1}, {signs[b][i]})" for b in range(bits) for i in range(_LSH_DIM)
    )
    return f"""
            signs (b, i, s) AS (VALUES {vals}),
            fx AS (
              SELECT vec_id, UNNEST(embedding) AS v, generate_subscripts(embedding, 1) AS i
              FROM embeddings),
            qx AS (
              SELECT vec_id, i, CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
              FROM fx),
            dots AS (
              SELECT vec_id, b, CAST(SUM(qv * s) AS BIGINT) AS d
              FROM qx JOIN signs USING (i) GROUP BY 1, 2),
            bk AS (
              SELECT vec_id,
                     CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id)
    """


def _ivf_cent_values(sf_dir: str) -> str:
    """Quantized centroid literals for the IVF oracle, derived from the
    embeddings of the SAME sf dir the queries run against (ADVICE r2: a
    hardcoded sf0.01 path made the oracle diverge at any other sf) by the
    exact same deterministic procedure as S.ivf_topk: first ``train_size``
    rows by vec_id, seeded Lloyd's k-means, fixed-point quantization."""
    import duckdb
    import numpy as np

    rows = (
        duckdb.connect()
        .execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT {_IVF['train_size']}"
        )
        .fetchall()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    qc = S.quantized_centroids(S.train_ivf_centroids(x, _IVF["nlist"], _IVF["seed"]))
    return ", ".join(
        f"({lid}, {i + 1}, {int(qc[lid, i])})"
        for lid in range(qc.shape[0])
        for i in range(qc.shape[1])
    )


def _pq_cb_values(sf_dir: str) -> tuple[str, int]:
    """Quantized PQ codebook literals ``(m, j, i, c)`` plus the subspace
    stride ``dsub`` (= embedding_dim / m, taken from the codebook shape so
    the SQL never hardcodes it — ADVICE r5) for the PQ oracle. Same
    derivation discipline as ``_ivf_cent_values``: first ``train_size``
    rows by vec_id from the sf dir under test, per-subspace seeded Lloyd's
    k-means (``S.train_pq_codebooks``), fixed-point quantization."""
    import duckdb
    import numpy as np

    rows = (
        duckdb.connect()
        .execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT {_PQ['train_size']}"
        )
        .fetchall()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    books = S.train_pq_codebooks(x, _PQ["m"], _PQ["ksub"], _PQ["seed"])
    qb = S.quantized_centroids(
        books.reshape(_PQ["m"] * _PQ["ksub"], -1)
    ).reshape(_PQ["m"], _PQ["ksub"], -1)
    values = ", ".join(
        f"({m}, {j}, {i}, {int(qb[m, j, i])})"
        for m in range(qb.shape[0])
        for j in range(qb.shape[1])
        for i in range(qb.shape[2])
    )
    return values, int(qb.shape[2])


def _ivfpq_values(sf_dir: str) -> tuple[str, str, int]:
    """Quantized literals for the composed IVF-PQ oracle: IVF centroids
    ``(list_id, i, c)`` (1-based i like the IVF oracle), residual-PQ
    codebooks ``(m, j, i, c)`` (0-based i like the PQ oracle), and the
    subspace stride ``dsub`` from the codebook shape. Derived by the
    exact ``S.train_ivfpq`` procedure over the same first-``train_size``
    sample the engine uses, so both engines carry identical constants."""
    import duckdb
    import numpy as np

    rows = (
        duckdb.connect()
        .execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT {_IVFPQ['train_size']}"
        )
        .fetchall()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    qcent, qb = S.train_ivfpq(
        x, _IVFPQ["nlist"], _IVFPQ["m"], _IVFPQ["ksub"], _IVFPQ["seed"]
    )
    cent = ", ".join(
        f"({lid}, {i + 1}, {int(qcent[lid, i])})"
        for lid in range(qcent.shape[0])
        for i in range(qcent.shape[1])
    )
    cb = ", ".join(
        f"({m}, {j}, {i}, {int(qb[m, j, i])})"
        for m in range(qb.shape[0])
        for j in range(qb.shape[1])
        for i in range(qb.shape[2])
    )
    return cent, cb, int(qb.shape[2])


def _region_oracle_sql() -> str:
    """Closed-form region table for the rasterized-rects fixture: the
    expected merge structure is declared in ``_region_hits_cte`` (a+b
    touch; e1+e2 overlap; c disconnected; d value-isolated) and every
    aggregate — including region_id = MIN(Y*512+X), the engine's
    first-pixel labeling rule — is recomputed from the SAME rect
    constants the fixture burns."""
    return f"""
        {_region_hits_cte()}
        SELECT CAST(MIN(Y * 512 + X) AS BIGINT) AS region_id,
               CAST(value AS BIGINT) AS value,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(MIN(X) AS BIGINT) AS xmin,
               CAST(MIN(Y) AS BIGINT) AS ymin,
               CAST(MAX(X) AS BIGINT) AS xmax,
               CAST(MAX(Y) AS BIGINT) AS ymax
        FROM hits GROUP BY rk, value
    """


def _region_hits_cte() -> str:
    """Shared CTE body (px grid + per-region pixel sets) for the region
    oracles, from the same rect constants the fixture burns."""
    groups = {"r1": ["a", "b"], "c": ["c"], "d": ["d"], "e": ["e1", "e2"]}
    rects = {pid: (r, v) for pid, r, v in _REGION_RECTS}
    parts = []
    for g, members in groups.items():
        cond = " OR ".join(
            f"(X BETWEEN {rects[m][0][0]} AND {rects[m][0][2] - 1} "
            f"AND Y BETWEEN {rects[m][0][1]} AND {rects[m][0][3] - 1})"
            for m in members
        )
        val = int(rects[members[0]][1])
        parts.append(f"SELECT '{g}' AS rk, {val} AS value, X, Y FROM px WHERE {cond}")
    union = " UNION ".join(parts)  # UNION (not ALL): dedupes the e1/e2 overlap
    return f"""
        WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
             ys AS (SELECT UNNEST(range(0, 512)) AS Y),
             px AS (SELECT X, Y FROM xs CROSS JOIN ys),
             hits AS ({union})
    """


def _region_hist_oracle_sql() -> str:
    """Per-pixel twin of the labeled raster: region ids via MIN over each
    declared region's pixels; the -1 nodata row = area of tiles holding
    at least one labeled pixel minus the labeled total (the engine emits
    only those tiles, full 128x128 each on this fixture)."""
    return f"""
        {_region_hits_cte()},
             r AS (SELECT rk, MIN(Y * 512 + X) AS rid, COUNT(*) AS n
                   FROM hits GROUP BY rk),
             t AS (SELECT DISTINCT X // 128 AS tx, Y // 128 AS ty FROM hits)
        SELECT CAST(rid AS BIGINT) AS region_id, CAST(n AS BIGINT) AS n FROM r
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
               CAST((SELECT COUNT(*) FROM t) * 16384 - (SELECT SUM(n) FROM r) AS BIGINT)
    """


def _sieve_oracle_sql() -> str:
    """Closed-form POST-sieve region table: the single-pass rule's outcome
    is declared (B joins A under value 1; C/D/E/F unchanged) and every
    aggregate recomputes from the same rect constants the fixture burns."""
    groups = {
        "ab": (["a", "b"], 1), "c": (["c"], 3), "d": (["d"], 4),
        "e": (["e"], 5), "f": (["f"], 6),
    }
    rects = {pid: r for pid, r, _ in _SIEVE_RECTS}
    parts = []
    for g, (members, val) in groups.items():
        cond = " OR ".join(
            f"(X BETWEEN {rects[m][0]} AND {rects[m][2] - 1} "
            f"AND Y BETWEEN {rects[m][1]} AND {rects[m][3] - 1})"
            for m in members
        )
        parts.append(f"SELECT '{g}' AS rk, {val} AS value, X, Y FROM px WHERE {cond}")
    union = " UNION ALL ".join(parts)  # sieve rects are pairwise disjoint
    return f"""
        WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
             ys AS (SELECT UNNEST(range(0, 512)) AS Y),
             px AS (SELECT X, Y FROM xs CROSS JOIN ys),
             hits AS ({union})
        SELECT CAST(MIN(Y * 512 + X) AS BIGINT) AS region_id,
               CAST(value AS BIGINT) AS value,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(MIN(X) AS BIGINT) AS xmin,
               CAST(MIN(Y) AS BIGINT) AS ymin,
               CAST(MAX(X) AS BIGINT) AS xmax,
               CAST(MAX(Y) AS BIGINT) AS ymax
        FROM hits GROUP BY rk, value
    """


def _tc_base_cte() -> str:
    """Shared closed-form pixel CTE for the temporal-cube fixture
    (`_ensure_timecube`): non-uniform t domain, formula values, formula
    missingness, plus the dropped frame-tile as NULLs."""
    dx0 = _TC_DROPPED[0] * _TC_TILE
    dy0 = _TC_DROPPED[1] * _TC_TILE
    vals = ", ".join(f"({t})" for t in _TC_TS)
    return f"""
        ts(t) AS (VALUES {vals}),
        xs AS (SELECT UNNEST(range(0, {_TC_BASE})) AS px),
        ys AS (SELECT UNNEST(range(0, {_TC_BASE})) AS py),
        base AS (
          SELECT t, px, py,
                 CASE WHEN (px + 2*py + 3*t) % 5 = 0 THEN NULL
                      WHEN t = {_TC_DROPPED[2]}
                           AND px >= {dx0} AND px < {dx0 + _TC_TILE}
                           AND py >= {dy0} AND py < {dy0 + _TC_TILE} THEN NULL
                      ELSE (3*px + 5*py + 11*t) % 97 END AS v
          FROM ts CROSS JOIN xs CROSS JOIN ys)"""


def _minhash_sql_parts(num_hashes: int) -> tuple[str, str]:
    """Unrolled minhash aggregate expressions matching dedup.minhash_signatures."""
    aggs = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = 0x9E3779B97F4A7C15 % _P61 if i == 0 else (i * 0x9E3779B9) % _P61
        aggs.append(f"MIN((h * {a} + {b}) % {_P61}) AS mh{i}")
    return ", ".join(aggs), ""


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    # The IVF twin derives centroid literals from the sf dir under test.
    # The driver calls oracle_sql() with no args and compares at sf0.01, so
    # that is the default; tools/check_oracle.py (and any caller testing a
    # different sf) threads its sf_dir through so the centroids always match
    # the engine's (ADVICE r2). If derivation fails, log loudly and degrade
    # to omitting ONLY the ivf entry (rows-only check) rather than failing
    # every oracle.
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        ivf_cent = _ivf_cent_values(sf_dir)
    except Exception as e:  # pragma: no cover - environment-dependent
        import sys

        print(
            f"[oracle_sql] WARNING: IVF centroid derivation failed for {sf_dir!r}"
            f" ({e!r}); embedding_ivf_topk degrades to a rows-only check",
            file=sys.stderr,
        )
        ivf_cent = None
    try:
        pq_cb, pq_dsub = _pq_cb_values(sf_dir)
    except Exception as e:  # pragma: no cover - environment-dependent
        import sys

        print(
            f"[oracle_sql] WARNING: PQ codebook derivation failed for {sf_dir!r}"
            f" ({e!r}); embedding_pq_topk degrades to a rows-only check",
            file=sys.stderr,
        )
        pq_cb, pq_dsub = None, 0
    try:
        ipq_cent, ipq_cb, ipq_dsub = _ivfpq_values(sf_dir)
    except Exception as e:  # pragma: no cover - environment-dependent
        import sys

        print(
            f"[oracle_sql] WARNING: IVF-PQ derivation failed for {sf_dir!r}"
            f" ({e!r}); embedding_ivfpq_topk degrades to a rows-only check",
            file=sys.stderr,
        )
        ipq_cent, ipq_cb, ipq_dsub = None, None, 0
    zr_union = " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, v FROM pix WHERE {_zonal_halfplane_sql(ring)}"
        for pid, ring in (
            ("p1", _ZONAL_RING_P1),
            ("p2", _ZONAL_RING_P2),
            ("p3", _ZONAL_RING_P3),
        )
    )
    mh_aggs, _ = _minhash_sql_parts(8)
    band_cols = " , ".join(
        f"(SELECT id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '|' || CAST(mh{2*b+1} AS VARCHAR)) AS bkey FROM sig)"
        for b in range(4)
    )
    bands_union = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '|' || CAST(mh{2*b+1} AS VARCHAR)) AS bkey FROM sig"
        for b in range(4)
    )
    stop = {name: ", ".join(f"'{w}'" for w in ws) for name, ws in TX.STOPWORDS.items()}
    names = sorted(TX.STOPWORDS)
    greatest = "GREATEST(" + ", ".join(f"score_{n}" for n in names) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{n} = {greatest} THEN '{n}'" for n in names
    ) + " END"

    out = {
        "block_agg_mean": """
            SELECT l_partkey >> 1 AS bx, l_suppkey >> 1 AS by,
                   SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                   SUM(l_quantity) / COUNT(*) AS mean_qty
            FROM lineitem GROUP BY 1, 2
        """,
        "block_agg_mean_t": """
            SELECT l_partkey >> 1 AS bx, l_suppkey >> 1 AS by,
                   CAST(l_linenumber AS INTEGER) AS t,
                   SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                   SUM(l_quantity) / COUNT(*) AS mean_qty
            FROM lineitem GROUP BY 1, 2, 3
        """,
        "block_agg_minmax": """
            SELECT l_partkey >> 2 AS bx, l_suppkey >> 2 AS by,
                   MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "block_agg_mode": """
            SELECT bx, mode_val, cnt FROM (
              SELECT l_partkey >> 3 AS bx, l_linenumber AS mode_val,
                     COUNT(*) AS cnt,
                     ROW_NUMBER() OVER (PARTITION BY l_partkey >> 3
                                        ORDER BY COUNT(*) DESC, l_linenumber ASC) AS rn
              FROM lineitem GROUP BY 1, 2
            ) WHERE rn = 1
        """,
        "block_agg_median": """
            SELECT l_partkey >> 2 AS bx,
                   quantile_cont(l_quantity, 0.5) AS median_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "recursive_mean_consistency": """
            WITH l1 AS (
              SELECT l_partkey >> 1 AS bx, l_suppkey >> 1 AS by,
                     SUM(l_quantity) AS s, COUNT(*) AS n
              FROM lineitem GROUP BY 1, 2),
            l2r AS (
              SELECT bx >> 1 AS bx2, by >> 1 AS by2, SUM(s) AS s, CAST(SUM(n) AS BIGINT) AS n
              FROM l1 GROUP BY 1, 2),
            l2d AS (
              SELECT l_partkey >> 2 AS bx2, l_suppkey >> 2 AS by2,
                     SUM(l_quantity) AS s2, COUNT(*) AS n2
              FROM lineitem GROUP BY 1, 2)
            SELECT CAST(SUM(CASE WHEN l2r.s != l2d.s2 OR l2r.n != l2d.n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
            FROM l2r FULL OUTER JOIN l2d USING (bx2, by2)
        """,
        "rollup_multilevel": """
            WITH ev AS (
              SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
              FROM events),
            lv AS (SELECT hr, vc, z FROM ev CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS z))
            SELECT z, hr >> z AS bucket, COUNT(*) AS n,
                   CAST(SUM(vc) AS BIGINT) AS sum_cents,
                   MIN(vc) AS min_cents, MAX(vc) AS max_cents
            FROM lv GROUP BY 1, 2
        """,
        "selectlevel_window": f"""
            WITH ev AS (
              SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
              FROM events)
            SELECT hr >> {max(1, min(3, _WIN_Z))} AS bucket, COUNT(*) AS n,
                   CAST(SUM(vc) AS BIGINT) AS sum_cents,
                   CAST({max(1, min(3, _WIN_Z))} AS INTEGER) AS z
            FROM ev GROUP BY 1
            HAVING bucket BETWEEN {int(_WIN_EXTENT[0]) >> max(1, min(3, _WIN_Z))}
                              AND {int(_WIN_EXTENT[2]) >> max(1, min(3, _WIN_Z))}
        """,
        "bbox_join": """
            SELECT p_partkey, n_nationkey
            FROM (SELECT p_partkey, p_partkey % 128 AS px, p_partkey // 128 % 128 AS py FROM part) p
            JOIN (SELECT n_nationkey,
                         (n_nationkey % 5) * 24 AS qxmin, (n_nationkey % 5) * 24 + 30 AS qxmax,
                         (n_nationkey // 5) * 24 AS qymin, (n_nationkey // 5) * 24 + 30 AS qymax
                  FROM nation) n
            ON p.px >= n.qxmin AND p.px < n.qxmax AND p.py >= n.qymin AND p.py < n.qymax
        """,
        "bbox_join_cells": """
            SELECT p_partkey, n_nationkey
            FROM (SELECT p_partkey, p_partkey % 128 AS px, p_partkey // 128 % 128 AS py FROM part) p
            JOIN (SELECT n_nationkey,
                         (n_nationkey % 5) * 24 AS qxmin, (n_nationkey % 5) * 24 + 30 AS qxmax,
                         (n_nationkey // 5) * 24 AS qymin, (n_nationkey // 5) * 24 + 30 AS qymax
                  FROM nation) n
            ON p.px >= n.qxmin AND p.px < n.qxmax AND p.py >= n.qymin AND p.py < n.qymax
        """,
        "zonal_agg": """
            SELECT n_nationkey, COUNT(*) AS n,
                   CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
                   MIN(price_cents) AS min_cents, MAX(price_cents) AS max_cents
            FROM (SELECT p_partkey, p_partkey % 128 AS px, p_partkey // 128 % 128 AS py,
                         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
                  FROM part) p
            JOIN (SELECT n_nationkey,
                         (n_nationkey % 5) * 24 AS qxmin, (n_nationkey % 5) * 24 + 30 AS qxmax,
                         (n_nationkey // 5) * 24 AS qymin, (n_nationkey // 5) * 24 + 30 AS qymax
                  FROM nation) n
            ON p.px >= n.qxmin AND p.px < n.qxmax AND p.py >= n.qymin AND p.py < n.qymax
            GROUP BY n_nationkey
        """,
        "pip_join": f"""
            WITH pts AS (
              SELECT p_partkey,
                     CAST(p_partkey % 128 AS DOUBLE) AS px,
                     CAST(p_partkey // 128 % 128 AS DOUBLE) AS py
              FROM part),
            edges AS (
              SELECT * FROM (VALUES {", ".join(
                f"(CAST({x1} AS DOUBLE), CAST({y1} AS DOUBLE), CAST({x2} AS DOUBLE), CAST({y2} AS DOUBLE))"
                for (x1, y1), (x2, y2) in zip(_PIP_RING, _PIP_RING[1:] + _PIP_RING[:1])
              )}) AS t(x1, y1, x2, y2)),
            hits AS (
              SELECT p_partkey, COUNT(*) AS ncross
              FROM pts JOIN edges
                ON ((y1 > py) != (y2 > py))
               AND (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
              GROUP BY p_partkey)
            SELECT p_partkey, 'hex-a' AS polygon_id
            FROM hits WHERE ncross % 2 = 1
        """,
        "pip_zonal": f"""
            WITH pts AS (
              SELECT p_partkey,
                     CAST(p_partkey % 128 AS DOUBLE) AS px,
                     CAST(p_partkey // 128 % 128 AS DOUBLE) AS py,
                     CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
              FROM part),
            edges AS (
              SELECT * FROM (VALUES {", ".join(
                f"(CAST({x1} AS DOUBLE), CAST({y1} AS DOUBLE), CAST({x2} AS DOUBLE), CAST({y2} AS DOUBLE))"
                for (x1, y1), (x2, y2) in zip(_PIP_RING, _PIP_RING[1:] + _PIP_RING[:1])
              )}) AS t(x1, y1, x2, y2)),
            hits AS (
              SELECT p_partkey, COUNT(*) AS ncross
              FROM pts JOIN edges
                ON ((y1 > py) != (y2 > py))
               AND (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
              GROUP BY p_partkey),
            inside AS (SELECT p_partkey FROM hits WHERE ncross % 2 = 1)
            SELECT 'hex-a' AS polygon_id, COUNT(*) AS n,
                   CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
                   MIN(price_cents) AS min_cents, MAX(price_cents) AS max_cents
            FROM inside JOIN pts USING (p_partkey)
        """,
        "knn": """
            SELECT n_nationkey, c_custkey, rank FROM (
              SELECT n.n_nationkey, c.c_custkey,
                     ROW_NUMBER() OVER (
                       PARTITION BY n.n_nationkey
                       ORDER BY (n.qx - c.cx) * (n.qx - c.cx) + (n.qy - c.cy) * (n.qy - c.cy) ASC,
                                c.c_custkey ASC) AS rank
              FROM (SELECT n_nationkey, (n_nationkey % 5) * 25 + 7 AS qx,
                           (n_nationkey // 5) * 25 + 11 AS qy FROM nation) n
              CROSS JOIN (SELECT c_custkey, c_custkey % 128 AS cx,
                                 c_custkey // 128 % 128 AS cy FROM customer) c
            ) WHERE rank <= 3
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "jaccard_pairs": """
            WITH ts0 AS (
              SELECT DISTINCT doc_id AS id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents WHERE n_chars <= 120)),
            dfreq AS (SELECT tok, COUNT(*) AS c FROM ts0 GROUP BY tok),
            ts AS (SELECT ts0.id, ts0.tok FROM ts0 JOIN dfreq USING (tok) WHERE c <= 100),
            sizes AS (SELECT id, COUNT(*) AS ntok FROM ts GROUP BY id),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
              FROM ts a JOIN ts b ON a.tok = b.tok AND a.id < b.id
              GROUP BY 1, 2)
            SELECT id_a, id_b, common, sa.ntok AS na, sb.ntok AS nb
            FROM pairs
            JOIN sizes sa ON pairs.id_a = sa.id
            JOIN sizes sb ON pairs.id_b = sb.id
            WHERE common * 1000000 >= 500000 * (sa.ntok + sb.ntok - common)
        """,
        "minhash_lsh": f"""
            WITH ts AS (
              SELECT DISTINCT doc_id AS id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents WHERE n_chars <= 200)),
            hashed AS (
              SELECT id, CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) AS h FROM ts),
            sig AS (SELECT id, {mh_aggs} FROM hashed GROUP BY id),
            bands AS ({bands_union}),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS bands_hit
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
              GROUP BY 1, 2)
            SELECT id_a, id_b, bands_hit FROM cand
        """,
        "simhash": f"""
            WITH ts AS (
              SELECT DISTINCT doc_id AS id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents WHERE n_chars <= 200)),
            hashed AS (
              SELECT id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM ts),
            votes AS (
              SELECT id, b,
                     SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 16)) AS b)
              GROUP BY id, b)
            SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY id
        """,
        # hamming_near_dup: same sig construction at 60 bits, then the
        # EXACT pair predicate (DuckDB can afford the 125k-pair quadratic at
        # oracle scale; the engine side is the banded join — same rows)
        "hamming_near_dup": """
            WITH ts AS (
              SELECT DISTINCT doc_id AS id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents)),
            hashed AS (
              SELECT id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM ts),
            votes AS (
              SELECT id, b,
                     SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 60)) AS b)
              GROUP BY id, b),
            sig AS (
              SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS fp
              FROM votes GROUP BY id)
            SELECT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS dist
            FROM sig a JOIN sig b ON a.id < b.id
            WHERE bit_count(xor(a.fp, b.fp)) <= 3
        """,
        # transitive closure of the SAME pair set as hamming_near_dup: a
        # recursive CTE computes every reachable node, MIN per node is the
        # component id — bounded at oracle scale by component size
        "dedup_components": """
            WITH RECURSIVE ts AS (
              SELECT DISTINCT doc_id AS id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents)),
            hashed AS (
              SELECT id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM ts),
            votes AS (
              SELECT id, b,
                     SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 60)) AS b)
              GROUP BY id, b),
            sig AS (
              SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS fp
              FROM votes GROUP BY id),
            pairs AS (
              SELECT a.id AS ia, b.id AS ib
              FROM sig a JOIN sig b ON a.id < b.id
              WHERE bit_count(xor(a.fp, b.fp)) <= 3),
            edges AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
            nodes AS (SELECT DISTINCT s AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id)
            SELECT id, CAST(MIN(r) AS BIGINT) AS component FROM reach GROUP BY id
        """,
        "text_quality": """
            WITH s AS (
              SELECT doc_id AS id,
                     len(string_split(text, ' ')) AS n_tokens,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct,
                     length(text) AS n_chars
              FROM documents)
            SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(FLOOR(n_distinct * 1000 / n_tokens) AS BIGINT) AS ttr_milli,
                   CAST(FLOOR(n_chars * 1000 / GREATEST(n_tokens, 1)) AS BIGINT) AS mean_tok_len_milli,
                   CAST(FLOOR((CAST(FLOOR(n_distinct * 1000 / n_tokens) AS BIGINT)
                         + (CASE WHEN n_tokens BETWEEN 5 AND 512 THEN 1000 ELSE 0 END)) / 2) AS BIGINT) AS quality_milli
            FROM s
        """,
        "language_id": f"""
            WITH toks AS (
              SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
            sc AS (
              SELECT id,
                     {", ".join(f"CAST(SUM(CASE WHEN tok IN ({stop[n]}) THEN 1 ELSE 0 END) AS BIGINT) AS score_{n}" for n in names)}
              FROM toks GROUP BY id)
            SELECT id, {", ".join(f"score_{n}" for n in names)}, {pred} AS pred_lang
            FROM sc
        """,
        "fingerprint": f"""
            SELECT doc_id AS id,
                   CAST(concat('0x', substr(md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')), 1, 15)) AS BIGINT) AS prefix_fp,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                                      t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT))),
                     (acc, h) -> (acc * 1000003 + h) % {_P31}) AS rolling_fp
            FROM documents
        """,
        "bpe_tokens": f"""
            WITH t AS (
              SELECT doc_id AS id,
                     regexp_extract_all(lower(text), '{TX.BPE_PATTERN}') AS toks
              FROM documents)
            SELECT id,
                   CAST(len(toks) AS BIGINT) AS n_pieces,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_pieces,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]'))) AS BIGINT) AS n_alpha,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) AS n_num,
                   CAST(len(toks) - len(list_filter(toks, x -> regexp_matches(x, '^[a-z]')))
                        - len(list_filter(toks, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) AS n_punct,
                   CAST(list_max(list_prepend(0, list_transform(toks, x -> length(x)))) AS BIGINT) AS max_piece_len
            FROM t
        """,
        # Streaming-path oracle (VERDICT r4 #8): DuckDB recomputes, in
        # closed form, the per-tile stats of the pyramid the engine built
        # via streaming ingestion + compaction (q_streamed_pyramid_stats
        # builds the fixture; FIXTURES.md pixel formula, image 0 replaced
        # by 7s in micro-batch 1). Level-z pixels are means of 2^z x 2^z
        # base blocks — exact dyadic rationals in both engines, quantized
        # at 2^20 for the hash.
        # exact value histogram of the same fixture's base level: DuckDB
        # groups the closed-form mosaic pixels by value; the engine side
        # is the map-side-partial np.unique plan over the stored tiles.
        "raster_value_histogram": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py)
            SELECT CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS value,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM xs CROSS JOIN ys
            GROUP BY 1
        """,
        # region_label over the rasterized-rects fixture: expected merges
        # declared in _region_oracle_sql, all aggregates recomputed from
        # the shared rect constants
        "region_label": _region_oracle_sql(),
        # attribute-table twin with exact first-moment sums
        # perimeter twin: same-region neighbor pairs counted directly
        # over the declared pixel sets (two equi-joins), P = 4n - 2E
        "region_perimeter": f"""
            {_region_hits_cte()},
                 eh AS (
                   SELECT h.rk, COUNT(*) AS c FROM hits h JOIN hits g
                     ON g.rk = h.rk AND g.Y = h.Y AND g.X = h.X + 1
                   GROUP BY h.rk),
                 ev AS (
                   SELECT h.rk, COUNT(*) AS c FROM hits h JOIN hits g
                     ON g.rk = h.rk AND g.X = h.X AND g.Y = h.Y + 1
                   GROUP BY h.rk),
                 r AS (
                   SELECT rk, MIN(Y * 512 + X) AS rid, COUNT(*) AS n
                   FROM hits GROUP BY rk)
            SELECT CAST(rid AS BIGINT) AS region_id,
                   CAST(n AS BIGINT) AS n_px,
                   CAST(4*n - 2*(COALESCE(eh.c, 0) + COALESCE(ev.c, 0)) AS BIGINT) AS perimeter
            FROM r LEFT JOIN eh USING (rk) LEFT JOIN ev USING (rk)
        """,
        "region_stats": f"""
            {_region_hits_cte()}
            SELECT CAST(MIN(Y * 512 + X) AS BIGINT) AS region_id,
                   CAST(value AS BIGINT) AS value,
                   CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(MIN(X) AS BIGINT) AS xmin,
                   CAST(MIN(Y) AS BIGINT) AS ymin,
                   CAST(MAX(X) AS BIGINT) AS xmax,
                   CAST(MAX(Y) AS BIGINT) AS ymax,
                   CAST(SUM(X) AS BIGINT) AS sum_x,
                   CAST(SUM(Y) AS BIGINT) AS sum_y
            FROM hits GROUP BY rk, value
        """,
        # per-pixel labeled-raster twin: rasterize -> region_label_raster
        # -> write_level -> raster_histogram, every pixel closed-form
        "region_label_hist": _region_hist_oracle_sql(),
        # post-sieve region table: the composed rasterize -> sieve ->
        # write_level -> region_label loop vs the declared closed form
        "region_sieve": _sieve_oracle_sql(),
        # warp_affine over the same fixture: DuckDB replays the exact
        # integer center-rule mapping (bx = ((2X+1)*8)//10 - 3, by =
        # ((2Y+1)*7)//8 + 5 — all operands non-negative at the division,
        # so // == the engine's DIV) and aggregates per 256px output
        # tile; out-of-range pixels are simply not generated (the engine
        # side holds NaN there, skipped by its nan-stats). w/h pinned
        # closed-form; vmean is exact-int-sum / count, one IEEE division.
        # LOCF along t over the temporal-cube fixture: DuckDB carries the
        # last non-NULL per pixel with a window, then aggregates per
        # (t, tile). Carried values are source integers -> exact BIGINT sums.
        # per-pixel anomaly: (n*v - Sv) * (60//n) is the exact BIGINT both
        # engines agree on (rint(a*60) on the engine side)
        "cube_anomaly_stats": f"""
            WITH {_tc_base_cte()},
                 m AS (
                   SELECT px, py, COUNT(v) AS n, CAST(SUM(v) AS BIGINT) AS sv
                   FROM base GROUP BY px, py),
                 a AS (
                   SELECT b.t, b.px, b.py,
                          (m.n * b.v - m.sv) * (60 // m.n) AS u
                   FROM base b JOIN m USING (px, py)
                   WHERE b.v IS NOT NULL)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_valid,
                   CAST(SUM(u) AS BIGINT) AS sum_u
            FROM a GROUP BY 1, 2, 3
        """,
        # per-pixel OLS slope: exact integer moment sums, ONE double
        # division (bit-identical across engines), FLOOR(x*2^20+0.5)
        # quantization, per-tile integer sums
        "cube_trend_stats": f"""
            WITH {_tc_base_cte()},
                 m AS (
                   SELECT px, py,
                          COUNT(v) AS n,
                          CAST(SUM(CASE WHEN v IS NOT NULL THEN t END) AS BIGINT) AS st,
                          CAST(SUM(CASE WHEN v IS NOT NULL THEN t*t END) AS BIGINT) AS stt,
                          CAST(SUM(v) AS BIGINT) AS sv,
                          CAST(SUM(t*v) AS BIGINT) AS stv
                   FROM base GROUP BY px, py),
                 s AS (
                   SELECT px, py,
                          CAST(n*stv - st*sv AS DOUBLE) / (n*stt - st*st) AS slope
                   FROM m WHERE n >= 2)
            SELECT CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_valid,
                   CAST(SUM(CAST(FLOOR(slope * 1048576 + 0.5) AS BIGINT)) AS BIGINT) AS slope_u_sum
            FROM s GROUP BY 1, 2
        """,
        "cube_gapfill_locf": f"""
            WITH {_tc_base_cte()},
                 f AS (
                   SELECT t, px, py,
                          LAST_VALUE(v IGNORE NULLS) OVER (
                            PARTITION BY px, py ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
                   FROM base)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(fv) AS BIGINT) AS n_valid,
                   CAST(SUM(fv) AS BIGINT) AS sum_u
            FROM f GROUP BY 1, 2, 3 HAVING COUNT(fv) > 0
        """,
        # bounded linear fill (gap length <= 2 t-units): prev/next obs via
        # IGNORE-NULLS windows, fill = (pv*(tn-t)+nv*(t-tp))/(tn-tp) —
        # exact integer products, ONE double division, then ROUND(v*60)
        # (60 clears every span denominator) to exact BIGINTs.
        "cube_gapfill_linear": f"""
            WITH {_tc_base_cte()},
                 f AS (
                   SELECT t, px, py, v,
                          LAST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
                            PARTITION BY px, py ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
                          LAST_VALUE(v IGNORE NULLS) OVER (
                            PARTITION BY px, py ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
                          FIRST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
                            PARTITION BY px, py ORDER BY t
                            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt,
                          FIRST_VALUE(v IGNORE NULLS) OVER (
                            PARTITION BY px, py ORDER BY t
                            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
                   FROM base),
                 g AS (
                   SELECT t, px, py,
                          CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                               WHEN pt IS NOT NULL AND nt IS NOT NULL
                                    AND nt - pt - 1 <= 2
                               THEN (CAST(pv AS DOUBLE) * (nt - t)
                                     + CAST(nv AS DOUBLE) * (t - pt))
                                    / CAST(nt - pt AS DOUBLE)
                          END AS fv
                   FROM f)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(fv) AS BIGINT) AS n_valid,
                   CAST(SUM(CAST(ROUND(fv * 60) AS BIGINT)) AS BIGINT) AS sum_u
            FROM g GROUP BY 1, 2, 3 HAVING COUNT(fv) > 0
        """,
        # max-value composite + winning-t (ties -> smallest t): per-pixel
        # MAX then MIN(t) at the max, aggregated per tile — all integers.
        "cube_composite_max": f"""
            WITH {_tc_base_cte()},
                 m AS (SELECT px, py, MAX(v) AS vm FROM base GROUP BY px, py),
                 a AS (
                   SELECT b.px AS px, b.py AS py, ANY_VALUE(m.vm) AS vm,
                          MIN(CASE WHEN b.v = m.vm THEN b.t END) AS tt
                   FROM base b JOIN m USING (px, py)
                   WHERE m.vm IS NOT NULL
                   GROUP BY b.px, b.py)
            SELECT CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(vm) AS BIGINT) AS n_valid,
                   CAST(SUM(vm) AS BIGINT) AS sum_u,
                   CAST(MIN(vm) AS BIGINT) AS vmin_px,
                   CAST(MAX(vm) AS BIGINT) AS vmax_px,
                   CAST(SUM(tt) AS BIGINT) AS t_sum
            FROM a GROUP BY 1, 2
        """,
        # mean composite: per-pixel exact-int-sum / count (one double
        # division), ROUND(v*60) clears every count denominator in [1,5]
        "cube_composite_mean": f"""
            WITH {_tc_base_cte()},
                 a AS (SELECT px, py, SUM(v) AS s, COUNT(v) AS n
                       FROM base GROUP BY px, py)
            SELECT CAST(px // {_TC_TILE} AS BIGINT) AS tx,
                   CAST(py // {_TC_TILE} AS BIGINT) AS ty,
                   CAST(COUNT(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_valid,
                   CAST(SUM(CASE WHEN n > 0 THEN
                     CAST(ROUND((CAST(s AS DOUBLE) / n) * 60) AS BIGINT) END)
                     AS BIGINT) AS sum_u
            FROM a GROUP BY 1, 2
        """,
        # reclassify over the zonal mosaic: DuckDB rebins the closed-form
        # pixels through the same half-open [lo, hi) -> class map
        "reclassify_hist": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 v AS (
                   SELECT (16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS val
                   FROM xs CROSS JOIN ys)
            SELECT CAST(10 + val // 32 AS BIGINT) AS klass,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v GROUP BY 1
        """,
        # bilinear warp: floor-division (pmod-corrected — DuckDB // truncates
        # toward zero, numpy floors) neighbor indices + exact rational
        # weights; num = 4-term int64 blend numerator, denominator 80
        "warp_bilinear_stats": """
            WITH xs AS (SELECT UNNEST(range(0, 320)) AS X),
                 ys AS (SELECT UNNEST(range(0, 288)) AS Y),
                 m AS (
                   SELECT X, Y,
                          ((2*X+1)*8)//10 - 3 AS bx,
                          ((2*Y+1)*7)//8 + 5 AS by,
                          (2*X+1)*8 - 35 AS px_,
                          (2*Y+1)*7 + 36 AS py_
                   FROM xs CROSS JOIN ys),
                 i AS (
                   SELECT X, Y,
                          (px_ - ((px_ % 10) + 10) % 10) // 10 AS i0x,
                          ((px_ % 10) + 10) % 10 AS rx,
                          (py_ - ((py_ % 8) + 8) % 8) // 8 AS i0y,
                          ((py_ % 8) + 8) % 8 AS ry
                   FROM m
                   WHERE bx BETWEEN 0 AND 511 AND by BETWEEN 0 AND 511),
                 nb AS (
                   SELECT X, Y, rx, ry,
                          LEAST(GREATEST(i0x, 0), 511) AS jx0,
                          LEAST(GREATEST(i0x + 1, 0), 511) AS jx1,
                          LEAST(GREATEST(i0y, 0), 511) AS jy0,
                          LEAST(GREATEST(i0y + 1, 0), 511) AS jy1
                   FROM i),
                 v AS (
                   SELECT X//256 AS otx, Y//256 AS oty,
                          CAST((16*((jx0//128)+(jy0//128)) + xor(jx0%128, jy0%128)) % 256 AS BIGINT) * (10-rx) * (8-ry)
                        + CAST((16*((jx1//128)+(jy0//128)) + xor(jx1%128, jy0%128)) % 256 AS BIGINT) * rx * (8-ry)
                        + CAST((16*((jx0//128)+(jy1//128)) + xor(jx0%128, jy1%128)) % 256 AS BIGINT) * (10-rx) * ry
                        + CAST((16*((jx1//128)+(jy1//128)) + xor(jx1%128, jy1%128)) % 256 AS BIGINT) * rx * ry
                          AS num
                   FROM nb)
            SELECT CAST(otx AS BIGINT) AS otx,
                   CAST(oty AS BIGINT) AS oty,
                   CAST(COUNT(*) AS BIGINT) AS n_valid,
                   CAST(SUM(num) AS BIGINT) AS sum_u,
                   CAST(MIN(num) AS BIGINT) AS min_u,
                   CAST(MAX(num) AS BIGINT) AS max_u
            FROM v GROUP BY otx, oty
        """,
        # histogram equalization: window cumsum over the closed-form value
        # histogram + the exact round-half-up LUT, regrouped by mapped value
        "equalize_hist": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT (16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS v
                   FROM xs CROSS JOIN ys),
                 h AS (SELECT v, COUNT(*) AS n FROM pix GROUP BY v),
                 c AS (
                   SELECT v, n,
                          SUM(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cdf,
                          SUM(n) OVER () AS tot
                   FROM h),
                 e AS (
                   SELECT n,
                          (2*(cdf - (SELECT MIN(cdf) FROM c))*255
                           + (tot - (SELECT MIN(cdf) FROM c)))
                          // (2*(tot - (SELECT MIN(cdf) FROM c))) AS eq
                   FROM c)
            SELECT CAST(eq AS BIGINT) AS value, CAST(SUM(n) AS BIGINT) AS n
            FROM e GROUP BY eq
        """,
        # gdaldem roughness: window max - min via chained 1-D passes
        "dem_roughness_stats": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 x1 AS (SELECT px, py,
                          MAX(v) OVER (PARTITION BY py ORDER BY px
                            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mx,
                          MIN(v) OVER (PARTITION BY py ORDER BY px
                            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mn
                        FROM pix),
                 x2 AS (SELECT px, py,
                          MAX(mx) OVER (PARTITION BY px ORDER BY py
                            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                        - MIN(mn) OVER (PARTITION BY px ORDER BY py
                            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS rough
                        FROM x1)
            SELECT CAST(px // 128 AS BIGINT) AS tx,
                   CAST(py // 128 AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(SUM(rough) AS BIGINT) AS sum_r,
                   CAST(MIN(rough) AS BIGINT) AS min_r,
                   CAST(MAX(rough) AS BIGINT) AS max_r
            FROM x2 GROUP BY 1, 2
        """,
        # morphological opening: separable erode (2 chained 1-D window MINs)
        # then dilate (2 chained MAXes) with the shrinking-border frame rule,
        # histogram of the opened plane
        "morphology_open_hist": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 e1 AS (SELECT px, py, MIN(v) OVER (PARTITION BY py ORDER BY px
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM pix),
                 e2 AS (SELECT px, py, MIN(v) OVER (PARTITION BY px ORDER BY py
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM e1),
                 d1 AS (SELECT px, py, MAX(v) OVER (PARTITION BY py ORDER BY px
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM e2),
                 d2 AS (SELECT px, py, MAX(v) OVER (PARTITION BY px ORDER BY py
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM d1)
            SELECT CAST(v AS BIGINT) AS value, CAST(COUNT(*) AS BIGINT) AS n
            FROM d2 GROUP BY v
        """,
        "warp_affine_stats": """
            WITH xs AS (SELECT UNNEST(range(0, 320)) AS X),
                 ys AS (SELECT UNNEST(range(0, 288)) AS Y),
                 m AS (
                   SELECT X, Y,
                          ((2*X+1)*8)//10 - 3 AS bx,
                          ((2*Y+1)*7)//8 + 5 AS by
                   FROM xs CROSS JOIN ys),
                 v AS (
                   SELECT X//256 AS otx, Y//256 AS oty,
                          CAST((16*((bx//128)+(by//128)) + xor(bx%128, by%128)) % 256 AS BIGINT) AS v
                   FROM m
                   WHERE bx BETWEEN 0 AND 511 AND by BETWEEN 0 AND 511)
            SELECT CAST(otx AS BIGINT) AS otx,
                   CAST(oty AS BIGINT) AS oty,
                   CAST(LEAST(320 - otx*256, 256) AS BIGINT) AS w,
                   CAST(LEAST(288 - oty*256, 256) AS BIGINT) AS h,
                   CAST(MIN(v) AS BIGINT) AS vmin_px,
                   CAST(MAX(v) AS BIGINT) AS vmax_px,
                   CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*) * 1048576 + 0.5) AS BIGINT) AS vmean_u
            FROM v GROUP BY otx, oty
        """,
        # raster zonal over the BUILT pyramid fixture: DuckDB regenerates
        # the 512x512 mosaic pixels closed-form and tests each pixel CENTER
        # (2px+1, 2py+1 vs doubled integer vertices — exact int math)
        # against the convex rings; the engine side reads tiles.
        "zonal_raster": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 hits AS ({zr_union})
            SELECT polygon_id,
                   CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(SUM(v) AS BIGINT) AS sum_px,
                   CAST(MIN(v) AS BIGINT) AS min_px,
                   CAST(MAX(v) AS BIGINT) AS max_px,
                   CAST(CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS BIGINT) AS mean_milli
            FROM hits GROUP BY polygon_id
        """,
        # categorical zonal stats: majority/minority with the lowest-value
        # tie rule encoded as integer argmax/argmin keys (n*4096 -+ v,
        # v < 4096) — no engine-specific arg_max tie semantics relied on
        "zonal_categorical": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 hits AS ({zr_union}),
                 h AS (SELECT polygon_id, v, COUNT(*) AS n FROM hits GROUP BY 1, 2),
                 k AS (
                   SELECT polygon_id,
                          CAST(SUM(n) AS BIGINT) AS n_px,
                          CAST(COUNT(*) AS BIGINT) AS variety,
                          MAX(n*4096 + (4095 - v)) AS kmaj,
                          MIN(n*4096 + v) AS kmin
                   FROM h GROUP BY polygon_id)
            SELECT polygon_id, n_px, variety,
                   CAST(4095 - (kmaj % 4096) AS BIGINT) AS majority,
                   CAST(kmaj // 4096 AS BIGINT) AS majority_n,
                   CAST(kmin % 4096 AS BIGINT) AS minority,
                   CAST(kmin // 4096 AS BIGINT) AS minority_n
            FROM k
        """,
        # exact zonal quantiles over the same fixture: identical type-1
        # window construction (smallest v with cum >= ceil(q*n)) — all
        # integer counts + one exactly-representable ceil per quantile
        "zonal_quantiles": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 hits AS ({zr_union}),
                 h AS (SELECT polygon_id, v, COUNT(*) AS n FROM hits GROUP BY 1, 2),
                 c AS (
                   SELECT polygon_id, v, n,
                          SUM(n) OVER (PARTITION BY polygon_id ORDER BY v
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                          SUM(n) OVER (PARTITION BY polygon_id) AS total
                   FROM h)
            SELECT polygon_id,
                   CAST(MAX(total) AS BIGINT) AS n_px,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.25 * total) AS BIGINT) THEN v END) AS BIGINT) AS q250,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * total) AS BIGINT) THEN v END) AS BIGINT) AS q500,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.75 * total) AS BIGINT) THEN v END) AS BIGINT) AS q750
            FROM c GROUP BY polygon_id
        """,
        # raster point extraction over the same fixture: every point is a
        # pixel center derived from part keys; DuckDB recomputes the pixel
        # closed-form — validates the full decode+gather path per point
        "raster_extract": """
            WITH p AS (
              SELECT p_partkey,
                     (p_partkey * 7919) % 512 AS ix,
                     (p_partkey * 104729) % 512 AS iy
              FROM part)
            SELECT concat('pt-', p_partkey) AS point_id,
                   CAST(ix * 2 + 1 AS BIGINT) AS x2,
                   CAST(iy * 2 + 1 AS BIGINT) AS y2,
                   CAST((16*((ix//128)+(iy//128)) + xor(ix%128, iy%128)) % 256 AS BIGINT) AS value
            FROM p
        """,
        # vector->raster: DuckDB paints the same rings closed-form (CASE in
        # REVERSE paint order — last polygon wins) and aggregates per tile;
        # the engine side is the burned TILE_SCHEMA rows' stats columns
        "rasterize_stats": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (SELECT px, py FROM xs CROSS JOIN ys),
                 val AS (
                   SELECT px, py,
                          CASE WHEN {_zonal_halfplane_sql(_ZONAL_RING_P3)} THEN 30.0
                               WHEN {_zonal_halfplane_sql(_ZONAL_RING_P2)} THEN 20.0
                               WHEN {_zonal_halfplane_sql(_ZONAL_RING_P1)} THEN 10.0
                          END AS v
                   FROM pix)
            SELECT CAST(px // 128 AS BIGINT) AS tx,
                   CAST(py // 128 AS BIGINT) AS ty,
                   CAST(128 AS BIGINT) AS w,
                   CAST(128 AS BIGINT) AS h,
                   CAST(FLOOR(MIN(v) * 1048576 + 0.5) AS BIGINT) AS vmin_u,
                   CAST(FLOOR(MAX(v) * 1048576 + 0.5) AS BIGINT) AS vmax_u,
                   CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(v) * 1048576 + 0.5) AS BIGINT) AS vmean_u
            FROM val WHERE v IS NOT NULL GROUP BY 1, 2
        """,
        # r7 holed multipolygon: even-odd parity over the concatenated
        # closed edge list of [outer, hole] + [part] — the same crossing
        # expression as the engine kernel, term-for-term in IEEE double
        "pip_join_mp": f"""
            WITH pts AS (
              SELECT p_partkey,
                     CAST(p_partkey % 128 AS DOUBLE) AS px,
                     CAST(p_partkey // 128 % 128 AS DOUBLE) AS py
              FROM part)
            SELECT p_partkey, 'mp-a' AS polygon_id
            FROM pts
            WHERE {_evenodd_sql([_MP_OUTER_A, _MP_HOLE_A, _MP_PART_B], "px", "py")}
        """,
        "zonal_raster_mp": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128)) + xor(px%128, py%128)) % 256 AS BIGINT) AS v,
                          CAST(px AS DOUBLE) + 0.5 AS cx,
                          CAST(py AS DOUBLE) + 0.5 AS cy
                   FROM xs CROSS JOIN ys)
            SELECT 'mph' AS polygon_id,
                   CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(SUM(v) AS BIGINT) AS sum_px,
                   CAST(MIN(v) AS BIGINT) AS min_px,
                   CAST(MAX(v) AS BIGINT) AS max_px,
                   CAST(CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS BIGINT) AS mean_milli
            FROM pix
            WHERE {_evenodd_sql([_ZONAL_RING_P1, _MPZ_HOLE, _MPZ_TRI], "cx", "cy")}
        """,
        # holes + paint order: the quad (painted LAST) wins wherever it
        # overlaps — including inside the first polygon's hole
        "rasterize_mp": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (SELECT px, py,
                                CAST(px AS DOUBLE) + 0.5 AS cx,
                                CAST(py AS DOUBLE) + 0.5 AS cy
                         FROM xs CROSS JOIN ys),
                 val AS (
                   SELECT px, py,
                          CASE WHEN {_evenodd_sql([_MPZ_QUAD], "cx", "cy")} THEN 20.0
                               WHEN {_evenodd_sql([_ZONAL_RING_P1, _MPZ_HOLE, _MPZ_TRI], "cx", "cy")} THEN 10.0
                          END AS v
                   FROM pix)
            SELECT CAST(px // 128 AS BIGINT) AS tx,
                   CAST(py // 128 AS BIGINT) AS ty,
                   CAST(128 AS BIGINT) AS w,
                   CAST(128 AS BIGINT) AS h,
                   CAST(FLOOR(MIN(v) * 1048576 + 0.5) AS BIGINT) AS vmin_u,
                   CAST(FLOOR(MAX(v) * 1048576 + 0.5) AS BIGINT) AS vmax_u,
                   CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(v) * 1048576 + 0.5) AS BIGINT) AS vmean_u
            FROM val WHERE v IS NOT NULL GROUP BY 1, 2
        """,
        # cube zonal: both t-slices regenerated closed-form (with the
        # (t=1, image 0) -> 9 rewrite) x the same convex parity-safe rings
        "zonal_cube_stats": f"""
            WITH px AS (
              SELECT tt.t AS t, gx*256 + x AS px, gy*256 + y AS py,
                     CASE WHEN tt.t = 1 AND gx = 0 AND gy = 0 THEN 9
                          ELSE CAST(((16*(gx+gy) + xor(x, y)) % 256 + 7*tt.t) % 256 AS BIGINT) END AS v
              FROM generate_series(0, 1) g1(gx), generate_series(0, 1) g2(gy),
                   generate_series(0, 255) s1(x), generate_series(0, 255) s2(y),
                   (VALUES (0), (1)) tt(t)),
                 hits AS (
                   SELECT 'p1' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P1)}
                   UNION ALL
                   SELECT 'p2' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P2)}
                   UNION ALL
                   SELECT 'p3' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P3)})
            SELECT polygon_id, CAST(t AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_px,
                   CAST(SUM(v) AS BIGINT) AS sum_px,
                   CAST(MIN(v) AS BIGINT) AS min_px,
                   CAST(MAX(v) AS BIGINT) AS max_px,
                   CAST(CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS BIGINT) AS mean_milli
            FROM hits GROUP BY 1, 2
        """,
        # color relief: per-channel interpolation with the same op order
        # (int products, one divide, one add, FLOOR half-up), packed RGB
        "color_relief_hist": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
                 ys AS (SELECT UNNEST(range(0, 512)) AS Y),
                 px AS (
                   SELECT CAST((16*((X//128)+(Y//128)) + xor(X%128, Y%128)) % 256 AS DOUBLE) AS v
                   FROM xs CROSS JOIN ys),
                 rgb AS (
                   SELECT CASE WHEN v < 100 THEN CAST(FLOOR(0 + ((v - 0)*(255 - 0))/(100 - 0) + 0.5) AS BIGINT) ELSE CAST(FLOOR(255 + ((v - 100)*(255 - 255))/(223 - 100) + 0.5) AS BIGINT) END AS r,
                          CASE WHEN v < 100 THEN CAST(FLOOR(0 + ((v - 0)*(255 - 0))/(100 - 0) + 0.5) AS BIGINT) ELSE CAST(FLOOR(255 + ((v - 100)*(0 - 255))/(223 - 100) + 0.5) AS BIGINT) END AS g,
                          CASE WHEN v < 100 THEN CAST(FLOOR(128 + ((v - 0)*(0 - 128))/(100 - 0) + 0.5) AS BIGINT) ELSE CAST(FLOOR(0 + ((v - 100)*(0 - 0))/(223 - 100) + 0.5) AS BIGINT) END AS b
                   FROM px)
            SELECT CAST(r*65536 + g*256 + b AS BIGINT) AS rgb,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM rgb GROUP BY 1
        """,
        # rolling cube: trailing 3-frame windows replayed as an offset
        # join over present frames; mean = one exactly-rounded divide
        "cube_rolling_stats": f"""
            WITH f AS (
              SELECT tt.t AS t, gx, gy, x, y,
                     ((16*(gx+gy) + xor(x, y)) % 256 + 7*tt.t) % 256 AS v
              FROM generate_series(0, 1) g1(gx), generate_series(0, 1) g2(gy),
                   generate_series(0, 127) s1(x), generate_series(0, 127) s2(y),
                   (SELECT UNNEST(range(0, {_ROLL_T})) AS t) tt
              WHERE NOT (gx = {_ROLL_DROPPED[0]} AND gy = {_ROLL_DROPPED[1]}
                         AND tt.t = {_ROLL_DROPPED[2]})),
                 o AS (
                   SELECT ot.t AS t, f.gx, f.gy, f.x, f.y,
                          CAST(SUM(f.v) AS BIGINT) AS s,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM (SELECT UNNEST(range(0, {_ROLL_T})) AS t) ot
                   CROSS JOIN (SELECT UNNEST(range(0, 3)) AS j) jj
                   JOIN f ON f.t = ot.t - jj.j
                   GROUP BY 1, 2, 3, 4, 5)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(gx AS BIGINT) AS tx, CAST(gy AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_valid,
                   CAST(SUM(CAST(FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                       * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
            FROM o GROUP BY 1, 2, 3
        """,
        # streamed gridding: batching-independent additive state => the
        # SAME closed-form replay as the batch grid, points from range()
        "streamed_grid_stats": f"""
            WITH pts AS (
              SELECT CAST(FLOOR(((i * 13) % 2560) / 10.0) AS BIGINT) AS px,
                     CAST(FLOOR(((i * 29) % 2560) / 10.0) AS BIGINT) AS py,
                     i % 97 AS v
              FROM (SELECT UNNEST(range(0, {_GRIDSTREAM_N})) AS i)),
                 b AS (
                   SELECT px, py, COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS s
                   FROM pts
                   WHERE px BETWEEN 0 AND {_GRID_SHAPE[0] - 1}
                     AND py BETWEEN 0 AND {_GRID_SHAPE[1] - 1}
                   GROUP BY 1, 2),
                 os AS (SELECT UNNEST(range(-{_GRID_R}, {_GRID_R + 1})) AS o),
                 off AS (
                   SELECT a.o AS dx, b.o AS dy
                   FROM os a CROSS JOIN os b
                   WHERE a.o*a.o + b.o*b.o <= {_GRID_R * _GRID_R}),
                 d AS (
                   SELECT g.px, g.py,
                          CAST(SUM(b.cnt) AS BIGINT) AS dc,
                          CAST(SUM(b.s) AS BIGINT) AS ds
                   FROM (SELECT x.X AS px, y.Y AS py
                         FROM (SELECT UNNEST(range(0, {_GRID_SHAPE[0]})) AS X) x
                         CROSS JOIN (SELECT UNNEST(range(0, {_GRID_SHAPE[1]})) AS Y) y) g
                   CROSS JOIN off
                   JOIN b ON b.px = g.px + off.dx AND b.py = g.py + off.dy
                   GROUP BY 1, 2)
            SELECT CAST(px // {_GRID_TS} AS BIGINT) AS tx,
                   CAST(py // {_GRID_TS} AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_filled,
                   CAST(SUM(CAST(FLOOR((CAST(ds AS DOUBLE) / CAST(dc AS DOUBLE))
                                       * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
            FROM d GROUP BY 1, 2
        """,
        # gridding: customer-key points binned to the lattice; disc sums
        # via the bounded offset join; mean = one exactly-rounded divide
        "grid_points_stats": f"""
            WITH pts AS (
              SELECT CAST(FLOOR(((c_custkey * 13) % 2560) / 10.0) AS BIGINT) AS px,
                     CAST(FLOOR(((c_custkey * 29) % 2560) / 10.0) AS BIGINT) AS py,
                     c_custkey % 97 AS v
              FROM customer),
                 b AS (
                   SELECT px, py, COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS s
                   FROM pts
                   WHERE px BETWEEN 0 AND {_GRID_SHAPE[0] - 1}
                     AND py BETWEEN 0 AND {_GRID_SHAPE[1] - 1}
                   GROUP BY 1, 2),
                 os AS (SELECT UNNEST(range(-{_GRID_R}, {_GRID_R + 1})) AS o),
                 off AS (
                   SELECT a.o AS dx, b.o AS dy
                   FROM os a CROSS JOIN os b
                   WHERE a.o*a.o + b.o*b.o <= {_GRID_R * _GRID_R}),
                 d AS (
                   SELECT g.px, g.py,
                          CAST(SUM(b.cnt) AS BIGINT) AS dc,
                          CAST(SUM(b.s) AS BIGINT) AS ds
                   FROM (SELECT x.X AS px, y.Y AS py
                         FROM (SELECT UNNEST(range(0, {_GRID_SHAPE[0]})) AS X) x
                         CROSS JOIN (SELECT UNNEST(range(0, {_GRID_SHAPE[1]})) AS Y) y) g
                   CROSS JOIN off
                   JOIN b ON b.px = g.px + off.dx AND b.py = g.py + off.dy
                   GROUP BY 1, 2)
            SELECT CAST(px // {_GRID_TS} AS BIGINT) AS tx,
                   CAST(py // {_GRID_TS} AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_filled,
                   CAST(SUM(CAST(FLOOR((CAST(ds AS DOUBLE) / CAST(dc AS DOUBLE))
                                       * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
            FROM d GROUP BY 1, 2
        """,
        # nearest gridding: lexicographic (d^2, pixel-min-value) argmin
        # packed as MIN(dd*128 + mv); all-integer
        "grid_points_nearest": f"""
            WITH pts AS (
              SELECT CAST(FLOOR(((c_custkey * 13) % 2560) / 10.0) AS BIGINT) AS px,
                     CAST(FLOOR(((c_custkey * 29) % 2560) / 10.0) AS BIGINT) AS py,
                     c_custkey % 97 AS v
              FROM customer),
                 b AS (
                   SELECT px, py, MIN(v) AS mv
                   FROM pts
                   WHERE px BETWEEN 0 AND {_GRID_SHAPE[0] - 1}
                     AND py BETWEEN 0 AND {_GRID_SHAPE[1] - 1}
                   GROUP BY 1, 2),
                 os AS (SELECT UNNEST(range(-{_GRID_R}, {_GRID_R + 1})) AS o),
                 off AS (
                   SELECT a.o AS dx, b.o AS dy, a.o*a.o + b.o*b.o AS dd
                   FROM os a CROSS JOIN os b
                   WHERE a.o*a.o + b.o*b.o <= {_GRID_R * _GRID_R}),
                 d AS (
                   SELECT g.px, g.py, MIN(off.dd*128 + b.mv) AS packed
                   FROM (SELECT x.X AS px, y.Y AS py
                         FROM (SELECT UNNEST(range(0, {_GRID_SHAPE[0]})) AS X) x
                         CROSS JOIN (SELECT UNNEST(range(0, {_GRID_SHAPE[1]})) AS Y) y) g
                   CROSS JOIN off
                   JOIN b ON b.px = g.px + off.dx AND b.py = g.py + off.dy
                   GROUP BY 1, 2)
            SELECT CAST(px // {_GRID_TS} AS BIGINT) AS tx,
                   CAST(py // {_GRID_TS} AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_filled,
                   CAST(SUM(packed % 128) AS BIGINT) AS sum_u
            FROM d GROUP BY 1, 2
        """,
        # crosstab: mosaic x its 3x3 erosion, both planes closed-form
        "crosstab_stats": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
                 ys AS (SELECT UNNEST(range(0, 512)) AS Y),
                 px AS (
                   SELECT X, Y,
                          (16*((X//128)+(Y//128)) + xor(X%128, Y%128)) % 256 AS va
                   FROM xs CROSS JOIN ys),
                 os AS (SELECT UNNEST(range(-1, 2)) AS o),
                 er AS (
                   SELECT p.X, p.Y, p.va,
                          MIN(CASE WHEN p.X + a.o BETWEEN 0 AND 511
                                    AND p.Y + b.o BETWEEN 0 AND 511
                                   THEN (16*(((p.X+a.o)//128)+((p.Y+b.o)//128))
                                         + xor((p.X+a.o)%128, (p.Y+b.o)%128)) % 256
                              END) AS vb
                   FROM px p CROSS JOIN os a CROSS JOIN os b
                   GROUP BY 1, 2, 3)
            SELECT CAST(va AS BIGINT) AS va, CAST(vb AS BIGINT) AS vb,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM er GROUP BY 1, 2
        """,
        # nearest-valid fill: lexicographic (d^2, value) argmin packed as
        # MIN(dd*256 + v) over the bounded offset set (89 offsets, dd <=
        # 25); fill value = packed % 256; unreachable keeps the nodata
        "fillnodata_hist": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
                 ys AS (SELECT UNNEST(range(0, 512)) AS Y),
                 px AS (
                   SELECT X, Y,
                          (16*((X//128)+(Y//128)) + xor(X%128, Y%128)) % 256 AS v
                   FROM xs CROSS JOIN ys),
                 os AS (SELECT UNNEST(range(-{_FILL_R}, {_FILL_R + 1})) AS o),
                 off AS (
                   SELECT a.o AS dx, b.o AS dy, a.o*a.o + b.o*b.o AS dd
                   FROM os a CROSS JOIN os b
                   WHERE a.o*a.o + b.o*b.o <= {_FILL_R * _FILL_R}),
                 fill AS (
                   SELECT p.X, p.Y,
                          MIN(CASE WHEN p.X + dx BETWEEN 0 AND 511
                                    AND p.Y + dy BETWEEN 0 AND 511
                                    AND (16*(((p.X+dx)//128)+((p.Y+dy)//128))
                                         + xor((p.X+dx)%128, (p.Y+dy)%128)) % 256
                                        <> {int(_FILL_NODATA)}
                                   THEN dd*256
                                        + (16*(((p.X+dx)//128)+((p.Y+dy)//128))
                                           + xor((p.X+dx)%128, (p.Y+dy)%128)) % 256
                              END) AS packed
                   FROM px p CROSS JOIN off
                   WHERE p.v = {int(_FILL_NODATA)}
                   GROUP BY p.X, p.Y),
                 outv AS (
                   SELECT CASE WHEN packed IS NULL THEN {int(_FILL_NODATA)}
                               ELSE packed % 256 END AS value
                   FROM fill
                   UNION ALL
                   SELECT v AS value FROM px WHERE v <> {int(_FILL_NODATA)})
            SELECT CAST(value AS BIGINT) AS value,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM outv GROUP BY 1
        """,
        # marching squares: per-cell corner values closed-form; crossing
        # coordinates are one exactly-rounded divide each; the symmetric
        # pair term uses (sum_x * sum_y - self terms) for 2-crossing
        # cells and the center-mean pairing CASE for saddles
        "contour_stats": _contour_oracle_sql(),
        # stitching topology: n_open = S - E (path/cycle identity)
        "contour_topology": _contour_topology_sql(),
        # proximity histogram: per-pixel exact min over the bounded offset
        # set (dd <= r^2 implies Chebyshev <= r, so 121 offsets is the
        # complete candidate set) against the closed-form target predicate
        "raster_proximity_hist": f"""
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS X),
                 ys AS (SELECT UNNEST(range(0, 512)) AS Y),
                 os AS (SELECT UNNEST(range(-{_PROX_R}, {_PROX_R + 1})) AS o),
                 off AS (
                   SELECT a.o AS dx, b.o AS dy, a.o*a.o + b.o*b.o AS dd
                   FROM os a CROSS JOIN os b
                   WHERE a.o*a.o + b.o*b.o <= {_PROX_R * _PROX_R}),
                 d AS (
                   SELECT X, Y, X // 128 AS tx, Y // 128 AS ty,
                          MIN(CASE WHEN X + dx BETWEEN 0 AND 511
                                    AND Y + dy BETWEEN 0 AND 511
                                    AND (16*(((X+dx)//128)+((Y+dy)//128))
                                         + xor((X+dx)%128, (Y+dy)%128)) % 256 = {int(_PROX_TARGET)}
                                   THEN dd END) AS d2
                   FROM xs CROSS JOIN ys CROSS JOIN off
                   GROUP BY X, Y),
                 t AS (SELECT DISTINCT tx, ty FROM d WHERE d2 IS NOT NULL)
            SELECT CAST(COALESCE(d2, -1) AS BIGINT) AS d2,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM d JOIN t USING (tx, ty)
            GROUP BY 1
        """,
        # cube quantiles: same slices, the type-1 window rule per
        # (polygon, t) — all integer counts + one exact ceil per quantile
        "zonal_cube_quantiles": f"""
            WITH px AS (
              SELECT tt.t AS t, gx*256 + x AS px, gy*256 + y AS py,
                     CASE WHEN tt.t = 1 AND gx = 0 AND gy = 0 THEN 9
                          ELSE CAST(((16*(gx+gy) + xor(x, y)) % 256 + 7*tt.t) % 256 AS BIGINT) END AS v
              FROM generate_series(0, 1) g1(gx), generate_series(0, 1) g2(gy),
                   generate_series(0, 255) s1(x), generate_series(0, 255) s2(y),
                   (VALUES (0), (1)) tt(t)),
                 hits AS (
                   SELECT 'p1' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P1)}
                   UNION ALL
                   SELECT 'p2' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P2)}
                   UNION ALL
                   SELECT 'p3' AS polygon_id, t, v FROM px WHERE {_zonal_halfplane_sql(_ZONAL_RING_P3)}),
                 h AS (SELECT polygon_id, t, v, COUNT(*) AS n FROM hits GROUP BY 1, 2, 3),
                 c AS (
                   SELECT polygon_id, t, v, n,
                          SUM(n) OVER (PARTITION BY polygon_id, t ORDER BY v
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                          SUM(n) OVER (PARTITION BY polygon_id, t) AS total
                   FROM h)
            SELECT polygon_id, CAST(t AS BIGINT) AS t,
                   CAST(MAX(total) AS BIGINT) AS n_px,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.25 * total) AS BIGINT) THEN v END) AS BIGINT) AS q250,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * total) AS BIGINT) THEN v END) AS BIGINT) AS q500,
                   CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.75 * total) AS BIGINT) THEN v END) AS BIGINT) AS q750
            FROM c GROUP BY polygon_id, t
        """,
        "streamed_pyramid_stats": """
            WITH px AS (
              SELECT gx*256 + x AS ax, gy*256 + y AS ay,
                     CASE WHEN gx = 0 AND gy = 0 THEN 7.0
                          ELSE CAST((16*(gx+gy) + xor(x, y)) % 256 AS DOUBLE) END AS v
              FROM generate_series(0, 3) g1(gx), generate_series(0, 3) g2(gy),
                   generate_series(0, 255) s1(x), generate_series(0, 255) s2(y)
            ),
            lv AS (
              SELECT zz.z AS z, ax >> zz.z AS bx, ay >> zz.z AS by, AVG(v) AS bm
              FROM px CROSS JOIN (VALUES (0), (1), (2)) zz(z)
              GROUP BY 1, 2, 3
            )
            SELECT CAST(z AS BIGINT) AS z,
                   CAST(bx >> 8 AS BIGINT) AS tx, CAST(by >> 8 AS BIGINT) AS ty,
                   CAST(256 AS BIGINT) AS w, CAST(256 AS BIGINT) AS h,
                   CAST(FLOOR(MIN(bm) * 1048576 + 0.5) AS BIGINT) AS vmin_u,
                   CAST(FLOOR(MAX(bm) * 1048576 + 0.5) AS BIGINT) AS vmax_u,
                   CAST(FLOOR(AVG(bm) * 1048576 + 0.5) AS BIGINT) AS vmean_u
            FROM lv GROUP BY 1, 2, 3
        """,
        # cube twin of streamed_pyramid_stats: one extra t dim in the
        # closed form (slice pixels wrap uint8: (base + 7t) % 256)
        "streamed_cube_stats": """
            WITH px AS (
              SELECT tt.t AS t, gx*256 + x AS ax, gy*256 + y AS ay,
                     CASE WHEN tt.t = 1 AND gx = 0 AND gy = 0 THEN 9.0
                          ELSE CAST(((16*(gx+gy) + xor(x, y)) % 256 + 7*tt.t) % 256 AS DOUBLE) END AS v
              FROM generate_series(0, 1) g1(gx), generate_series(0, 1) g2(gy),
                   generate_series(0, 255) s1(x), generate_series(0, 255) s2(y),
                   (VALUES (0), (1)) tt(t)
            ),
            lv AS (
              SELECT t, zz.z AS z, ax >> zz.z AS bx, ay >> zz.z AS by, AVG(v) AS bm
              FROM px CROSS JOIN (VALUES (0), (1)) zz(z)
              GROUP BY 1, 2, 3, 4
            )
            SELECT CAST(t AS BIGINT) AS t, CAST(z AS BIGINT) AS z,
                   CAST(bx >> 8 AS BIGINT) AS tx, CAST(by >> 8 AS BIGINT) AS ty,
                   CAST(256 AS BIGINT) AS w, CAST(256 AS BIGINT) AS h,
                   CAST(FLOOR(MIN(bm) * 1048576 + 0.5) AS BIGINT) AS vmin_u,
                   CAST(FLOOR(MAX(bm) * 1048576 + 0.5) AS BIGINT) AS vmax_u,
                   CAST(FLOOR(AVG(bm) * 1048576 + 0.5) AS BIGINT) AS vmean_u
            FROM lv GROUP BY 1, 2, 3, 4
        """,
        "token_stats": """
            SELECT doc_id AS id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        t -> CAST(CEIL(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
                   CAST(list_max(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS max_token_len
            FROM documents
        """,
        "embedding_topk": """
            WITH d AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            q AS (SELECT * FROM d WHERE vec_id < 5),
            flat AS (
              SELECT q.vec_id AS query_id, d.vec_id AS n_id,
                     UNNEST(q.qv) AS a, UNNEST(d.qv) AS b
              FROM q CROSS JOIN d WHERE d.vec_id != q.vec_id),
            ips AS (
              SELECT query_id, n_id, CAST(SUM(a * b) AS BIGINT) AS ip
              FROM flat GROUP BY 1, 2)
            SELECT query_id, n_id, ip, CAST(rank AS BIGINT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ip DESC, n_id ASC) AS rank
              FROM ips) WHERE rank <= 5
        """,
        "embedding_ivf_topk": f"""
            WITH cent0 (list_id, i, c0) AS (VALUES {ivf_cent}),
            cent AS (SELECT list_id, i, CAST(c0 AS BIGINT) AS c FROM cent0),
            cn AS (SELECT list_id, CAST(SUM(c * c) AS BIGINT) AS c2 FROM cent GROUP BY list_id),
            fx AS (
              SELECT vec_id, UNNEST(embedding) AS v, generate_subscripts(embedding, 1) AS i
              FROM embeddings),
            qx AS (
              SELECT vec_id, i, CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
              FROM fx),
            dots AS (
              SELECT qx.vec_id, cent.list_id, CAST(SUM(qv * c) AS BIGINT) AS d
              FROM qx JOIN cent USING (i) GROUP BY 1, 2),
            metric AS (
              SELECT vec_id, list_id, c2 - 2 * d AS m,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c2 - 2 * d ASC, list_id ASC) AS rn
              FROM dots JOIN cn USING (list_id)),
            assign AS (SELECT vec_id, list_id FROM metric WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, list_id FROM metric
              WHERE rn <= {_IVF["nprobe"]} AND vec_id < 5),
            dv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            cand AS (
              SELECT p.query_id, a.vec_id AS n_id, dq.qv AS qq, dn.qv AS qn
              FROM probes p
              JOIN assign a ON a.list_id = p.list_id AND a.vec_id != p.query_id
              JOIN dv dq ON dq.vec_id = p.query_id
              JOIN dv dn ON dn.vec_id = a.vec_id),
            fl AS (SELECT query_id, n_id, UNNEST(qq) AS x, UNNEST(qn) AS y FROM cand),
            ips AS (SELECT query_id, n_id, CAST(SUM(x * y) AS BIGINT) AS ip FROM fl GROUP BY 1, 2)
            SELECT query_id, n_id, ip, CAST(rank AS BIGINT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ip DESC, n_id ASC) AS rank
              FROM ips) WHERE rank <= {_IVF["k"]}
        """,
        # PQ/ADC (round 5): codes = per-subspace argmin of exact integer
        # euclidean |q_sub - c|^2 (packed tie-break to the lowest code),
        # LUTs the same metric per query, ADC = sum of m lookups. Every
        # intermediate is int64 on the shared fixed-point grid, so ranks
        # match the Spark plan exactly.
        "embedding_pq_topk": f"""
            WITH cb0 (m, j, i, c0) AS (VALUES {pq_cb}),
            cb AS (SELECT m, j, i, CAST(c0 AS BIGINT) AS c FROM cb0),
            d AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            sc AS (
              SELECT d.vec_id, cb.m, cb.j,
                     CAST(SUM((d.qv[cb.m * {pq_dsub} + cb.i + 1] - cb.c)
                            * (d.qv[cb.m * {pq_dsub} + cb.i + 1] - cb.c)) AS BIGINT) AS s
              FROM d, cb GROUP BY 1, 2, 3),
            codes AS (
              SELECT vec_id, m, CAST(MIN(s * {_PQ["ksub"]} + j) % {_PQ["ksub"]} AS INT) AS code
              FROM sc GROUP BY 1, 2),
            lut AS (
              SELECT vec_id AS query_id, m, j, s AS dist FROM sc WHERE vec_id < 5),
            adc AS (
              SELECT l.query_id, c.vec_id AS n_id, CAST(SUM(l.dist) AS BIGINT) AS adc
              FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code
              WHERE c.vec_id <> l.query_id
              GROUP BY 1, 2)
            SELECT query_id, n_id, adc, CAST(rank AS BIGINT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, n_id ASC) AS rank
              FROM adc) WHERE rank <= {_PQ["k"]}
        """,
        # Composed IVF-PQ (round 6): the IVF oracle's exact-int assignment
        # + probe CTEs feed the PQ oracle's code/LUT/ADC arithmetic, with
        # codes and LUTs computed on the RESIDUAL qv - centroid (FAISS
        # IVFPQ formulation). All int64 on the shared grid => bit-exact.
        "embedding_ivfpq_topk": f"""
            WITH cent0 (list_id, i, c0) AS (VALUES {ipq_cent}),
            cent AS (SELECT list_id, i, CAST(c0 AS BIGINT) AS c FROM cent0),
            cb0 (m, j, i, c0) AS (VALUES {ipq_cb}),
            cb AS (SELECT m, j, i, CAST(c0 AS BIGINT) AS c FROM cb0),
            cn AS (SELECT list_id, CAST(SUM(c * c) AS BIGINT) AS c2 FROM cent GROUP BY list_id),
            dv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            fx AS (SELECT vec_id, UNNEST(qv) AS qvv, generate_subscripts(qv, 1) AS i FROM dv),
            dots AS (
              SELECT fx.vec_id, cent.list_id, CAST(SUM(qvv * c) AS BIGINT) AS d
              FROM fx JOIN cent USING (i) GROUP BY 1, 2),
            metric AS (
              SELECT vec_id, list_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c2 - 2 * d ASC, list_id ASC) AS rn
              FROM dots JOIN cn USING (list_id)),
            assign AS (SELECT vec_id, list_id FROM metric WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, list_id FROM metric
              WHERE rn <= {_IVFPQ["nprobe"]} AND vec_id < 5),
            rs AS (
              SELECT a.vec_id, cb.m, cb.j,
                     CAST(SUM((d.qv[cb.m * {ipq_dsub} + cb.i + 1] - ct.c - cb.c)
                            * (d.qv[cb.m * {ipq_dsub} + cb.i + 1] - ct.c - cb.c)) AS BIGINT) AS s
              FROM assign a JOIN dv d USING (vec_id)
              CROSS JOIN cb
              JOIN cent ct ON ct.list_id = a.list_id AND ct.i = cb.m * {ipq_dsub} + cb.i + 1
              GROUP BY 1, 2, 3),
            codes AS (
              SELECT vec_id, m, CAST(MIN(s * {_IVFPQ["ksub"]} + j) % {_IVFPQ["ksub"]} AS INT) AS code
              FROM rs GROUP BY 1, 2),
            ql AS (
              SELECT p.query_id, p.list_id, cb.m, cb.j,
                     CAST(SUM((d.qv[cb.m * {ipq_dsub} + cb.i + 1] - ct.c - cb.c)
                            * (d.qv[cb.m * {ipq_dsub} + cb.i + 1] - ct.c - cb.c)) AS BIGINT) AS dist
              FROM probes p JOIN dv d ON d.vec_id = p.query_id
              CROSS JOIN cb
              JOIN cent ct ON ct.list_id = p.list_id AND ct.i = cb.m * {ipq_dsub} + cb.i + 1
              GROUP BY 1, 2, 3, 4),
            adc AS (
              SELECT l.query_id, c.vec_id AS n_id, CAST(SUM(l.dist) AS BIGINT) AS adc
              FROM assign a JOIN codes c USING (vec_id)
              JOIN ql l ON l.list_id = a.list_id AND l.m = c.m AND l.j = c.code
              WHERE c.vec_id <> l.query_id
              GROUP BY 1, 2)
            SELECT query_id, n_id, adc, CAST(rank AS BIGINT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, n_id ASC) AS rank
              FROM adc) WHERE rank <= {_IVFPQ["k"]}
        """,
        "union_cat": """
            WITH p AS (SELECT p_partkey AS tx, CAST(p_size AS BIGINT) AS v FROM part),
            off AS (SELECT MAX(tx) + 1 AS o FROM p)
            SELECT tx, v FROM p
            UNION ALL
            SELECT tx + (SELECT o FROM off) AS tx, v FROM p
        """,
        # native DuckDB ASOF JOIN as the twin of the union+window plan;
        # equal-ts click duplicates pre-folded to (max event_id,
        # max_by value) so both engines resolve ties identically
        "events_asof_click": """
            WITH v AS (
              SELECT user_id, event_id AS view_id, epoch_us(ts) AS t_us
              FROM events WHERE event_type = 'view'),
            c AS (
              SELECT user_id, epoch_us(ts) AS ct_us,
                     MAX(event_id) AS click_id,
                     max_by(value, event_id) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT v.user_id, v.view_id, c.click_id,
                   CAST(v.t_us - c.ct_us AS BIGINT) AS gap_us, c.click_value
            FROM v ASOF JOIN c ON v.user_id = c.user_id AND v.t_us >= c.ct_us
            WHERE v.t_us - c.ct_us <= 3600000000
        """,
        "geo_radius_join": """
            WITH pts AS (
              SELECT c_custkey AS point_id,
                     (c_custkey % 1200) / 10.0 - 60.0 AS lat,
                     ((c_custkey * 7) % 3600) / 10.0 - 180.0 AS lon
              FROM customer),
            qs AS (
              SELECT point_id AS query_id, lat AS qlat, lon AS qlon
              FROM pts WHERE point_id % 100 = 0)
            SELECT q.query_id, p.point_id
            FROM qs q, pts p
            WHERE 12742017.6 * asin(sqrt(
                    sin((radians(p.lat) - radians(q.qlat)) / 2)
                    * sin((radians(p.lat) - radians(q.qlat)) / 2)
                    + cos(radians(q.qlat)) * cos(radians(p.lat))
                    * sin((radians(p.lon) - radians(q.qlon)) / 2)
                    * sin((radians(p.lon) - radians(q.qlon)) / 2)))
                  <= 150000.0
        """,
        "lines_near_pairs": """
            WITH seg AS (
              SELECT p_partkey AS seg_id,
                     CAST((p_partkey % 100) * 10 AS DOUBLE) AS x1,
                     CAST(((p_partkey // 100) % 100) * 10 AS DOUBLE) AS y1,
                     CAST((p_partkey % 100) * 10
                          + ((p_partkey * 3) % 200) - 100 AS DOUBLE) AS x2,
                     CAST(((p_partkey // 100) % 100) * 10
                          + ((p_partkey * 7) % 200) - 100 AS DOUBLE) AS y2
              FROM part WHERE p_partkey % 10 = 0),
            pts AS (
              SELECT c_custkey AS point_id,
                     CAST((c_custkey * 13) % 1000 AS DOUBLE) AS x,
                     CAST((c_custkey * 29) % 1000 AS DOUBLE) AS y
              FROM customer),
            raw AS (
              SELECT p.point_id, s.seg_id,
                     s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy,
                     p.x, p.y, s.x1, s.y1
              FROM pts p, seg s),
            proj AS (
              SELECT point_id, seg_id, x, y, x1, y1, dx, dy,
                     CASE WHEN dx * dx + dy * dy = 0 THEN 0.0
                          ELSE LEAST(1.0, GREATEST(0.0,
                               ((x - x1) * dx + (y - y1) * dy)
                               / (dx * dx + dy * dy)))
                     END AS t
              FROM raw),
            d AS (
              SELECT point_id, seg_id,
                     (x - (x1 + t * dx)) * (x - (x1 + t * dx))
                     + (y - (y1 + t * dy)) * (y - (y1 + t * dy)) AS d2
              FROM proj)
            SELECT point_id, seg_id, sqrt(d2) AS dist
            FROM d WHERE d2 <= 625.0
        """,
        "lines_snap_nearest": """
            WITH seg AS (
              SELECT p_partkey AS seg_id,
                     CAST((p_partkey % 100) * 10 AS DOUBLE) AS x1,
                     CAST(((p_partkey // 100) % 100) * 10 AS DOUBLE) AS y1,
                     CAST((p_partkey % 100) * 10
                          + ((p_partkey * 3) % 200) - 100 AS DOUBLE) AS x2,
                     CAST(((p_partkey // 100) % 100) * 10
                          + ((p_partkey * 7) % 200) - 100 AS DOUBLE) AS y2
              FROM part WHERE p_partkey % 10 = 0),
            pts AS (
              SELECT c_custkey AS point_id,
                     CAST((c_custkey * 13) % 1000 AS DOUBLE) AS x,
                     CAST((c_custkey * 29) % 1000 AS DOUBLE) AS y
              FROM customer),
            raw AS (
              SELECT p.point_id, s.seg_id,
                     s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy,
                     p.x, p.y, s.x1, s.y1
              FROM pts p, seg s),
            proj AS (
              SELECT point_id, seg_id, x, y, x1, y1, dx, dy,
                     CASE WHEN dx * dx + dy * dy = 0 THEN 0.0
                          ELSE LEAST(1.0, GREATEST(0.0,
                               ((x - x1) * dx + (y - y1) * dy)
                               / (dx * dx + dy * dy)))
                     END AS t
              FROM raw),
            d AS (
              SELECT point_id, seg_id,
                     (x - (x1 + t * dx)) * (x - (x1 + t * dx))
                     + (y - (y1 + t * dy)) * (y - (y1 + t * dy)) AS d2
              FROM proj)
            SELECT point_id, seg_id, sqrt(d2) AS dist FROM (
              SELECT point_id, seg_id, d2,
                     ROW_NUMBER() OVER (PARTITION BY point_id
                                        ORDER BY d2, seg_id) AS rn
              FROM d WHERE d2 <= 625.0)
            WHERE rn = 1
        """,
        "interval_join_ship": """
            SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
            FROM lineitem l, orders o
            WHERE l.l_partkey % 50 = 0 AND o.o_orderkey % 10 = 0
              AND CAST(o.o_orderdate AS DATE)
                  BETWEEN CAST(l.l_shipdate AS DATE)
                      AND CAST(l.l_shipdate AS DATE) + CAST(l.l_partkey % 20 AS INTEGER)
        """,
        "interval_join_tiered": """
            SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
            FROM lineitem l, orders o
            WHERE l.l_partkey % 10 = 0 AND o.o_orderkey % 10 = 0
              AND CAST(o.o_orderdate AS DATE)
                  BETWEEN CAST(l.l_shipdate AS DATE)
                      AND CAST(l.l_shipdate AS DATE)
                          + CAST(CASE WHEN l.l_partkey % 1000 = 0
                                      THEN 4000 ELSE l.l_partkey % 15
                                 END AS INTEGER)
        """,
        "interval_overlap_orders": """
            SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
            FROM lineitem l, orders o
            WHERE l.l_partkey % 100 = 0 AND o.o_orderkey % 20 = 0
              AND CAST(l.l_shipdate AS DATE)
                    <= CAST(o.o_orderdate AS DATE) + 30
              AND CAST(o.o_orderdate AS DATE)
                    <= CAST(l.l_shipdate AS DATE) + CAST(l.l_partkey % 20 AS INTEGER)
        """,
        "events_session_agg": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS t,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            f AS (
              SELECT user_id, t, cents,
                     CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                                                ORDER BY t) <= 1800000000
                          THEN 0 ELSE 1 END AS is_new
              FROM e),
            s AS (
              SELECT user_id, t, cents,
                     SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) AS sid
              FROM f)
            SELECT user_id, MIN(t) AS session_start_us,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM s GROUP BY user_id, sid
        """,
        "focal_mean_extract": """
            WITH xs AS (SELECT UNNEST(range(0, 512)) AS px),
                 ys AS (SELECT UNNEST(range(0, 512)) AS py),
                 pix AS (
                   SELECT px, py,
                          CAST((16*((px//128)+(py//128))
                                + xor(px%128, py%128)) % 256 AS BIGINT) AS v
                   FROM xs CROSS JOIN ys),
                 h AS (
                   SELECT px, py,
                          SUM(v) OVER (PARTITION BY py ORDER BY px
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS hs,
                          COUNT(v) OVER (PARTITION BY py ORDER BY px
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS hc
                   FROM pix),
                 f AS (
                   SELECT px, py,
                          SUM(hs) OVER (PARTITION BY px ORDER BY py
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,
                          SUM(hc) OVER (PARTITION BY px ORDER BY py
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n
                   FROM h),
                 p AS (
                   SELECT p_partkey,
                          (p_partkey * 7919) % 512 AS ix,
                          (p_partkey * 104729) % 512 AS iy
                   FROM part)
            SELECT concat('pt-', p.p_partkey) AS point_id,
                   CAST(p.ix * 2 + 1 AS BIGINT) AS x2,
                   CAST(p.iy * 2 + 1 AS BIGINT) AS y2,
                   CAST(f.s AS DOUBLE) / f.n AS focal_mean
            FROM p JOIN f ON f.px = p.ix AND f.py = p.iy
        """,
        "docs_contamination": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
              FROM d, UNNEST(range(1, greatest(len(toks) - 7, 0) + 1)) AS u(i)),
            bench AS (
              SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            tot AS (
              SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
            hit AS (
              SELECT g.doc_id, COUNT(*) AS contaminated
              FROM g JOIN bench USING (gram) GROUP BY 1)
            SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
                   CAST(COALESCE(h.contaminated, 0) AS BIGINT) AS contaminated,
                   CAST(COALESCE(h.contaminated, 0) * 1000000 // t.n_grams
                        AS BIGINT) AS frac_ppm
            FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
        """,
        "docs_repetition": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            g AS (
              SELECT doc_id,
                     array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
              FROM d, UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)),
            occ AS (
              SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_grams,
                   CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_ppm,
                   CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
                       AS dup_ppm
            FROM occ GROUP BY doc_id
        """,
        "events_asof_next_click": """
            WITH v AS (
              SELECT user_id, event_id AS view_id, epoch_us(ts) AS t_us
              FROM events WHERE event_type = 'view'),
            c AS (
              SELECT user_id, epoch_us(ts) AS ct_us,
                     MIN(event_id) AS click_id,
                     min_by(value, event_id) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT v.user_id, v.view_id, c.click_id,
                   CAST(c.ct_us - v.t_us AS BIGINT) AS gap_us, c.click_value
            FROM v ASOF JOIN c ON v.user_id = c.user_id AND v.t_us <= c.ct_us
            WHERE c.ct_us - v.t_us <= 3600000000
        """,
        "events_asof_nearest": """
            WITH v AS (
              SELECT user_id, event_id AS view_id, epoch_us(ts) AS t_us
              FROM events WHERE event_type = 'view'),
            cb AS (
              SELECT user_id, epoch_us(ts) AS ct_us,
                     MAX(event_id) AS click_id,
                     max_by(value, event_id) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY 1, 2),
            cf AS (
              SELECT user_id, epoch_us(ts) AS ct_us,
                     MIN(event_id) AS click_id,
                     min_by(value, event_id) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY 1, 2),
            b AS (
              SELECT v.user_id, v.view_id, v.t_us,
                     cb.ct_us AS bt, cb.click_id AS bid, cb.click_value AS bv
              FROM v ASOF LEFT JOIN cb
                ON v.user_id = cb.user_id AND v.t_us >= cb.ct_us),
            bf AS (
              SELECT b.*, cf.ct_us AS ft, cf.click_id AS fid,
                     cf.click_value AS fv
              FROM b ASOF LEFT JOIN cf
                ON b.user_id = cf.user_id AND b.t_us <= cf.ct_us),
            pick AS (
              SELECT *,
                     (bt IS NULL AND ft IS NOT NULL)
                     OR (bt IS NOT NULL AND ft IS NOT NULL
                         AND (ft - t_us) < (t_us - bt)) AS use_f
              FROM bf)
            SELECT user_id, view_id,
                   CASE WHEN use_f THEN fid ELSE bid END AS click_id,
                   CAST(t_us - CASE WHEN use_f THEN ft ELSE bt END
                        AS BIGINT) AS gap_us,
                   CASE WHEN use_f THEN fv ELSE bv END AS click_value
            FROM pick
            WHERE abs(t_us - CASE WHEN use_f THEN ft ELSE bt END)
                  <= 1800000000
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
            f AS (
              SELECT event_id, user_id, t,
                     CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                                                ORDER BY t) <= 1800000000
                          THEN 0 ELSE 1 END AS is_new
              FROM e)
            SELECT user_id, event_id,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM f
        """,
        "docs_stratified_sample": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(doc_id AS VARCHAR), '|11')), 1, 15)) AS BIGINT)
                  < CASE lang
                      WHEN 'en' THEN 1152921504606846976
                      WHEN 'zh' THEN 576460752303423488
                      WHEN 'es' THEN 230584300921369408
                      ELSE 57646075230342352
                    END
        """,
        "docs_hash_split": """
            WITH h AS (
              SELECT n_chars,
                     CAST(concat('0x', substr(md5(concat(
                         CAST(doc_id AS VARCHAR), '|2')), 1, 15)) AS BIGINT)
                     AS hv
              FROM documents),
            lab AS (
              SELECT n_chars,
                     CASE WHEN hv < 57646075230342352 THEN 'eval'
                          WHEN hv < 115292150460684704 THEN 'test'
                          ELSE 'train' END AS split
              FROM h)
            SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM lab GROUP BY 1
        """,
        "events_time_rollup": """
            WITH base AS (
              SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            m AS (SELECT t // 60 * 60 AS bucket_s, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(cents) AS BIGINT) AS sum_v FROM base GROUP BY 1),
            h AS (SELECT bucket_s // 3600 * 3600 AS bucket_s, CAST(SUM(n) AS BIGINT) AS n,
                         CAST(SUM(sum_v) AS BIGINT) AS sum_v FROM m GROUP BY 1),
            d AS (SELECT bucket_s // 86400 * 86400 AS bucket_s, CAST(SUM(n) AS BIGINT) AS n,
                         CAST(SUM(sum_v) AS BIGINT) AS sum_v FROM h GROUP BY 1)
            SELECT 'minute' AS grain, * FROM m
            UNION ALL SELECT 'hour' AS grain, * FROM h
            UNION ALL SELECT 'day' AS grain, * FROM d
        """,
        "events_topk": """
            SELECT user_id, event_id, CAST(rank AS BIGINT) AS rank FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id ASC) AS rank
              FROM events) WHERE rank <= 3
        """,
        "cosine_near_dup": f"""
            WITH {_lsh_bucket_cte(8)},
            d AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            db AS (SELECT d.vec_id, d.qv, bk.bucket FROM d JOIN bk USING (vec_id)),
            px AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.qv AS qa, b.qv AS qb
              FROM db a JOIN db b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            fl AS (
              SELECT id_a, id_b, UNNEST(qa) AS x, UNNEST(qb) AS y FROM px),
            ips AS (
              SELECT id_a, id_b,
                     CAST(SUM(x * y) AS BIGINT) AS ip,
                     CAST(SUM(x * x) AS BIGINT) AS na2,
                     CAST(SUM(y * y) AS BIGINT) AS nb2
              FROM fl GROUP BY 1, 2)
            SELECT id_a, id_b, ip, na2, nb2 FROM ips
            WHERE ip > 0
              AND CAST(ip AS HUGEINT) * ip * 1000000 >= CAST({300 * 300} AS HUGEINT) * na2 * nb2
        """,
        "embedding_lsh_topk_all": f"""
            WITH {_lsh_bucket_cte(6)},
            d AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
              FROM embeddings),
            db AS (SELECT d.vec_id, d.qv, bk.bucket FROM d JOIN bk USING (vec_id)),
            px AS (
              SELECT q.vec_id AS query_id, n.vec_id AS n_id, q.qv AS qq, n.qv AS qn
              FROM db q JOIN db n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id),
            fl AS (
              SELECT query_id, n_id, UNNEST(qq) AS x, UNNEST(qn) AS y FROM px),
            ips AS (
              SELECT query_id, n_id, CAST(SUM(x * y) AS BIGINT) AS ip
              FROM fl GROUP BY 1, 2)
            SELECT query_id, n_id, ip, rank FROM (
              SELECT query_id, n_id, ip,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY ip DESC, n_id ASC) AS rank
              FROM ips) WHERE rank <= 3
        """,
        "embedding_lsh_buckets": f"""
            WITH {_lsh_bucket_cte(16)}
            SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_id FROM bk GROUP BY bucket
        """,
    }
    if ivf_cent is None:
        del out["embedding_ivf_topk"]  # degrade to rows-only for ivf alone
    if pq_cb is None:
        del out["embedding_pq_topk"]  # degrade to rows-only for pq alone
    if ipq_cb is None:
        del out["embedding_ivfpq_topk"]  # degrade to rows-only for ivfpq alone
    else:
        # the persisted-index path shares _ivfpq_score_topk with ivfpq_topk
        # and pq_topk (plain PQ is its one-list case; rerank=None pins the
        # ADC order), so ranks are identical by construction and the same
        # DuckDB twin applies verbatim
        out["embedding_ivfpq_indexed"] = out["embedding_ivfpq_topk"]
    # prebuilt import -> overview extension -> window serve (round 8):
    # closed-form recomputation of the G=8 mosaic's full mean cascade.
    # Full 2^z blocks only, so mean-of-means == direct block mean, and every
    # intermediate is dyadic => exact f64 in both engines.
    _pbn = _PB_G * 256
    _pbl = 0
    while (_pbn >> (_pbl + 1)) >= 256:
        _pbl += 1
    _pbz = select_level((_pbn, _pbn), _pbl, _PB_EXTENT, _PB_TARGET)
    _pbx0 = (int(_PB_EXTENT[0]) >> _pbz) // 256
    _pbx1 = ((int(_PB_EXTENT[2]) - 1) >> _pbz) // 256
    _pby0 = (int(_PB_EXTENT[1]) >> _pbz) // 256
    _pby1 = ((int(_PB_EXTENT[3]) - 1) >> _pbz) // 256
    _pbzs = ", ".join(f"({z})" for z in range(_pbl + 1))
    out["prebuilt_extend_window"] = f"""
        WITH px AS (
          SELECT gx*256 + x AS ax, gy*256 + y AS ay,
                 CAST((16*(gx+gy) + xor(x, y)) % 256 AS DOUBLE) AS v
          FROM generate_series(0, {_PB_G - 1}) g1(gx),
               generate_series(0, {_PB_G - 1}) g2(gy),
               generate_series(0, 255) s1(x), generate_series(0, 255) s2(y)
        ),
        lv AS (
          SELECT zz.z AS z, ax >> zz.z AS bx, ay >> zz.z AS by, AVG(v) AS bm
          FROM px CROSS JOIN (VALUES {_pbzs}) zz(z)
          GROUP BY 1, 2, 3
        ),
        tl AS (
          SELECT z, bx >> 8 AS tx, by >> 8 AS ty,
                 MIN(bm) AS tmin, MAX(bm) AS tmax, AVG(bm) AS tmean
          FROM lv GROUP BY 1, 2, 3
        )
        SELECT CAST(z AS BIGINT) AS z, CAST(tx AS BIGINT) AS tx,
               CAST(ty AS BIGINT) AS ty,
               CAST(256 AS BIGINT) AS w, CAST(256 AS BIGINT) AS h,
               CAST(FLOOR(tmin * 1048576 + 0.5) AS BIGINT) AS vmin_u,
               CAST(FLOOR(tmax * 1048576 + 0.5) AS BIGINT) AS vmax_u,
               CAST(FLOOR(tmean * 1048576 + 0.5) AS BIGINT) AS vmean_u,
               CAST(z = {_pbz} AND tx BETWEEN {_pbx0} AND {_pbx1}
                               AND ty BETWEEN {_pby0} AND {_pby1} AS BIGINT)
                 AS in_window
        FROM tl
    """
    return out
