"""Temporal joins the DataFrame API lacks natively (BASELINE task list:
"an operator Spark lacks (e.g., as-of join, range join, ...)").

``asof_join`` is the nearest-predecessor join: for every left row, the
latest right row with ``right.on <= left.on`` within the same ``by`` group
(optionally within ``tolerance``). pandas has ``merge_asof``; DuckDB has a
native ``ASOF JOIN``; Spark has neither — the common workarounds are a
range-bucketed theta join (quadratic in bucket occupancy) or a per-group
pandas UDF (python in the hot path).

This implementation is pure JVM relational algebra, ONE shuffle:

1. tag both sides and UNION them (left payload nulls on right rows and
   vice versa — a union is shuffle-free);
2. one window per ``by`` group ordered by ``(on, side, tiebreak)`` with
   ``last(right_payload, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, current)`` — every left row sees
   exactly the latest right row at-or-before its timestamp (right rows
   sort BEFORE left rows at equal ``on``, so the match is inclusive;
   equal-timestamp right duplicates resolve to the highest tiebreak —
   a total, engine-portable order);
3. keep the left rows, apply the tolerance filter.

At scale this is one hash exchange on ``by`` plus a per-partition sort —
the same physical shape as a sort-merge join, with no python stage and no
range explosion. Skewed ``by`` keys (one hot user) are bounded by the
window sort, and AQE's skew handling applies to the exchange.

Every time-bucket width in this module is planned at one of two sites.
``_interval_plan`` plans ``interval_join``, ``interval_overlap_join``
and their ``*_stats`` twins: it validates the width before any job,
takes mean and max length in one scalars-only aggregate, applies the
tier gate, probes the occupied tiers in one ``distinct`` job, and
returns the ``stats=`` dict the joins consume (given that dict, it runs
no job). ``_hot_widths`` is the hot-group rule of ``asof_join`` and
``sessionize`` under ``bucket_width="auto"``: one Column expression
splits each group over ``auto_budget`` rows into max(memory bound,
latency bound) buckets.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType
from pyspark.sql.window import Window


def _ordinal_long(col, dtype):
    """``on`` as an exact int64 ordinal: native units for integral
    columns, MICROSECONDS for timestamp / timestamp_ntz (the session tz
    is pinned UTC in session.get_spark, so the ntz cast is a pure UTC
    reinterpretation), DAYS for date. A bare ``cast("long")`` is not
    enough — Spark refuses TIMESTAMP_NTZ -> BIGINT (caught driving
    events.ts through the bucketed path)."""
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp"))
    if isinstance(dtype, DateType):
        return F.datediff(col, F.to_date(F.lit("1970-01-01"))).cast("long")
    return col.cast("long")


#: grain -> seconds; ordered finest-first so each coarser grain can be
#: produced from the previous grain's partials
_GRAIN_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts_s",
    value_col: str | None = None,
    grains: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy (BASELINE task
    list's "hypertable rollup"): counts (+ optional sums) per minute /
    hour / day bucket, where every COARSER grain is re-aggregated from
    the previous grain's partial rows — the same decomposable-reducer
    cascade the pyramid build uses on space, applied to time. An hour
    row reads <= 60 minute partials instead of the raw events, so the
    full hierarchy costs O(events) + O(minute rows) instead of
    len(grains) x O(events) — at 10^12 events that is the difference
    between one scan and three.

    ``ts_col`` is epoch SECONDS (bigint) — convert timestamps upstream
    so bucket arithmetic is exact integer math (engine-portable).
    ``value_col`` must likewise be pre-quantized to an integer unit
    (e.g. cents) by the caller; sums stay exact int64. Returns
    ``(grain string, bucket_s long, n long[, sum_v long])``.
    """
    gs = [g for g in _GRAIN_SECONDS if g in grains]  # canonical fine->coarse
    if gs != list(grains):
        raise ValueError(f"grains must be finest-first from {list(_GRAIN_SECONDS)}")
    aggs = [F.count("*").cast("long").alias("n")]
    if value_col:
        aggs.append(F.sum(F.col(value_col)).cast("long").alias("sum_v"))
    sec0 = _GRAIN_SECONDS[gs[0]]
    # floor semantics, not double-divide + cast (which truncates toward
    # zero and diverges from integer floor for pre-1970 epochs; ADVICE r5).
    # t - pmod(t, sec) is pure int64 arithmetic — exact and engine-portable.
    ts = F.col(ts_col).cast("long")
    level = (
        df.groupBy((ts - F.pmod(ts, F.lit(sec0))).alias("bucket_s"))
        .agg(*aggs)
    )
    out = level.select(F.lit(gs[0]).alias("grain"), "*")
    for g in gs[1:]:
        sec = _GRAIN_SECONDS[g]
        re_aggs = [F.sum("n").cast("long").alias("n")]
        if value_col:
            re_aggs.append(F.sum("sum_v").cast("long").alias("sum_v"))
        b = F.col("bucket_s")
        level = (
            level.groupBy((b - F.pmod(b, F.lit(sec))).alias("bucket_s"))
            .agg(*re_aggs)
        )
        out = out.unionByName(level.select(F.lit(g).alias("grain"), "*"))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | str,
    right_cols: list[str] | None = None,
    tiebreak: str | None = None,
    tolerance=None,
    suffix: str = "_right",
    bucket_width=None,
    auto_budget: int = 1 << 20,
    direction: str = "backward",
) -> DataFrame:
    """Nearest-predecessor (backward) as-of join.

    For each ``left`` row: the single ``right`` row of the same ``by``
    group with the greatest ``on`` satisfying ``right.on <= left.on``
    (ties on ``on`` broken by the greatest ``tiebreak``). Rows with no
    predecessor (or outside ``tolerance``) are dropped (inner as-of
    semantics, deterministic hashes — use a left-join wrapper if nulls
    are wanted). ``tolerance`` and ``bucket_width`` are expressed in the
    ordinal units of ``on``: native integer units for numeric columns,
    MICROSECONDS for timestamp/timestamp_ntz, days for date.

    ``right_cols``: right payload columns to carry (default: all minus
    ``on``/``by``), emitted with ``suffix``.

    ``bucket_width`` (skew control, VERDICT r5 #5): the default window
    serializes each ``by`` group into one task — one hot key holding half
    the rows caps the job at that task (measured 3.91x uniform at 50%
    hot; the bucketed variant restores it to 1.76x <= the 2x criterion
    with identical checksums — tools/asof_skew_ab.py, BENCH/ASOF_SKEW.md;
    on UNIFORM keys bucketing costs 1.6x plain, hence opt-in). With
    ``bucket_width`` set, the window partitions by ``(by, floor(on /
    width))`` so a hot group spreads across its time range, and a second
    pass fixes the bucket boundaries: per-(group, bucket) the last right
    payload is aggregated (``max_by``), a tiny per-bucket window computes
    the carry-in from STRICTLY earlier buckets, and rows whose in-bucket
    window found no predecessor coalesce to the carry. Still pure JVM —
    two extra bounded shuffles, no python, no range explosion; identical
    output (exact-equality test). Leave ``None`` for uniform keys.

    ``bucket_width="auto"`` (VERDICT r6 #6): a caller who doesn't know
    their keys are hot shouldn't eat the serialized-window breach. One
    scalars-only count job (the J4 hot-salt pattern) sizes the largest
    ``by`` group across both sides and evaluates the module's hot-group
    rule (``_hot_widths``) for it; at or under ``auto_budget`` rows
    (default 2^20 — a comfortably single-task window sort) the plain
    one-shuffle path runs unchanged. Above it the hot group's time range
    is split into ``nb`` buckets where ``nb`` honours BOTH constraints a
    hot window has: memory (``>= mx/auto_budget`` so no bucket outgrows
    a task) and latency (``>= 4x defaultParallelism`` so the formerly
    serialized group actually saturates the cluster), capped at one
    bucket per 64k rows so buckets never shrink below the carry-pass
    overhead. Cost on uniform keys: the count job only (measured 1.05x
    plain — BENCH/ASOF_SKEW.md); the bucketed plan is bit-identical to
    manual at the same width.

    ``direction`` (r7): ``"backward"`` (default) matches the latest
    right row at-or-before; ``"forward"`` the earliest at-or-after
    (mirrored machinery — ``first`` over the following window, sides
    flipped so equal timestamps stay inclusive, min-tiebreak); and
    ``"nearest"`` the closer of the two by int64 distance, ties going
    backward (the pandas ``merge_asof`` contract). All three share the
    same ONE-shuffle plan — nearest computes both arms over the SAME
    window sort, not a second exchange — and all three compose with the
    bucketed/auto skew repair (forward mirrors the carry from strictly
    later buckets; nearest carries both ways)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward', 'forward', or 'nearest'; "
            f"got {direction!r}"
        )
    by = [by] if isinstance(by, str) else list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in set(by) | {on}]
    # side encoding decides which side sorts first at EQUAL timestamps,
    # which is what makes the match inclusive: backward/nearest put right
    # rows first so the backward window sees the equal-t right; forward
    # puts left rows first so the following-window does. (nearest keeps
    # the backward encoding — an equal-t right is distance 0 and the
    # backward arm wins the tie by contract.)
    r_side, l_side = (1, 0) if direction == "forward" else (0, 1)
    payload = F.struct(
        F.col(on).alias("__on"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    r = right.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(r_side).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long").alias("__tb"),
        payload.alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in left.columns if c not in by],
    )
    l = left.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(l_side).alias("__side"),
        F.lit(0).cast("long").alias("__tb"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns if c not in by],
    )
    u = r.unionByName(l)
    order = [F.col("__t").asc(), F.col("__side").asc(), F.col("__tb").asc()]
    on_dt = left.schema[on].dataType
    if bucket_width == "auto":
        # one job: the largest hot group's width, or null (the plain path)
        # when every group is single-task-sized
        bucket_width = (
            _hot_widths(u, by, _ordinal_long(F.col("__t"), on_dt), auto_budget)
            .agg(F.max_by("__w", "__c"))
            .collect()[0][0]
        )
    elif bucket_width is not None:
        bucket_width = _width(bucket_width)

    def _nearest_choice(df: DataFrame) -> DataFrame:
        # closer of the two arms by int64 distance; ties go BACKWARD (the
        # pandas merge_asof contract). Distances are non-negative by the
        # arms' own window predicates.
        t_o = _ordinal_long(F.col("__t"), on_dt)
        b_o = _ordinal_long(F.col("__mb.__on"), on_dt)
        f_o = _ordinal_long(F.col("__mf.__on"), on_dt)
        return df.withColumn(
            "__m",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(f_o - t_o < t_o - b_o, F.col("__mf"))
            .otherwise(F.col("__mb")),
        )

    if bucket_width is None:
        base = Window.partitionBy(*by).orderBy(*order)
        wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        if direction == "backward":
            matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(wb))
        elif direction == "forward":
            matched = u.withColumn("__m", F.first("__r", ignorenulls=True).over(wf))
        else:
            matched = _nearest_choice(
                u.withColumn("__mb", F.last("__r", ignorenulls=True).over(wb))
                .withColumn("__mf", F.first("__r", ignorenulls=True).over(wf))
            )
    else:
        tl = _ordinal_long(F.col("__t"), on_dt)
        u = u.withColumn("__tl", tl).withColumn(
            "__bk", _floor_div("__tl", bucket_width)
        ).drop("__tl")
        base = Window.partitionBy(*by, "__bk").orderBy(*order)
        wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        # carry per (group, bucket): backward takes the last right payload
        # of STRICTLY earlier buckets; forward the first right payload of
        # STRICTLY later ones (the same machinery mirrored — ordered desc,
        # min_by). Buckets with no right rows still need a carry, so the
        # bucket list comes from both sides.
        buckets = u.select(*by, "__bk").distinct()

        def _carry(backward: bool, out: str) -> DataFrame:
            if backward:
                agg = F.max_by("__r", F.struct("__t", "__tb")).alias("__last")
                cw = Window.partitionBy(*by).orderBy("__bk")
            else:
                agg = F.min_by("__r", F.struct("__t", "__tb")).alias("__last")
                cw = Window.partitionBy(*by).orderBy(F.col("__bk").desc())
            cw = cw.rowsBetween(Window.unboundedPreceding, -1)
            rb = (
                u.where(F.col("__side") == r_side)
                .groupBy(*by, "__bk")
                .agg(agg)
            )
            return (
                buckets.join(rb, [*by, "__bk"], "left")
                .withColumn(out, F.last("__last", ignorenulls=True).over(cw))
                .select(*by, "__bk", out)
            )

        if direction == "backward":
            matched = (
                u.withColumn("__m0", F.last("__r", ignorenulls=True).over(wb))
                .join(_carry(True, "__c"), [*by, "__bk"], "left")
                .withColumn("__m", F.coalesce("__m0", "__c"))
            )
        elif direction == "forward":
            matched = (
                u.withColumn("__m0", F.first("__r", ignorenulls=True).over(wf))
                .join(_carry(False, "__c"), [*by, "__bk"], "left")
                .withColumn("__m", F.coalesce("__m0", "__c"))
            )
        else:
            matched = _nearest_choice(
                u.withColumn("__b0", F.last("__r", ignorenulls=True).over(wb))
                .withColumn("__f0", F.first("__r", ignorenulls=True).over(wf))
                .join(_carry(True, "__cb"), [*by, "__bk"], "left")
                .join(_carry(False, "__cf"), [*by, "__bk"], "left")
                .withColumn("__mb", F.coalesce("__b0", "__cb"))
                .withColumn("__mf", F.coalesce("__f0", "__cf"))
            )
    matched = matched.where((F.col("__side") == l_side) & F.col("__m").isNotNull())
    if tolerance is not None:
        # abs() covers all three directions: both arms' distances are
        # non-negative, so backward/forward semantics are unchanged
        matched = matched.where(
            F.abs(
                _ordinal_long(F.col("__t"), on_dt)
                - _ordinal_long(F.col("__m.__on"), on_dt)
            )
            <= F.lit(tolerance).cast("long")
        )
    out_cols = (
        [F.col(c) for c in by]
        + [F.col(f"__l_{c}").alias(c) for c in left.columns if c not in by]
        + [F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols]
        + [F.col("__m.__on").alias(f"{on}{suffix}")]
    )
    return matched.select(*out_cols)


def sessionize(
    df: DataFrame,
    by: list[str] | str,
    ts_col: str,
    gap,
    session_col: str = "session_id",
    bucket_width=None,
    auto_budget: int = 1 << 20,
) -> DataFrame:
    """Gap-based sessionization: rows in a ``by`` group belong to the
    same session while consecutive timestamps are at most ``gap`` apart
    (in the column's int64 ordinal unit — native for integral columns,
    microseconds for timestamps, days for dates, like ``asof_join``).

    Pure JVM, ONE shuffle: a per-group window ordered by timestamp marks
    session starts (``lag`` distance > gap, or first row) and a running
    sum numbers them — ``session_id`` is the 1-based session ordinal
    within the group. The result is deterministic even with duplicate
    timestamps: a zero distance can never start a session, so tie order
    cannot change the numbering.

    Scale shape: identical to the plain as-of join — one hash exchange
    on ``by`` + per-partition sort. A hot group serializes into one
    task's window, the same breach ``asof_join`` measures. Although the
    running sum is order-carrying, it is also ASSOCIATIVE, so the repair
    does transfer (r8, VERDICT r7 #5): with ``bucket_width`` set the
    window partitions by ``(by, floor(t / width))`` — local session
    flags and running counts per bucket — then a per-BUCKET window (one
    row per occupied bucket, tiny) stitches the boundaries: bucket ``b``
    continues the previous occupied bucket's last session iff
    ``first_t(b) - last_t(prev) <= gap``, and the cumulative sum of
    effective new-session counts over strictly-earlier buckets renumbers
    every row globally. Exact for ANY width (empty buckets, boundary
    ties, and cross-bucket continuations all reduce to direct timestamp
    differences) — output is bit-identical to the plain path.

    ``bucket_width="auto"`` goes one better than ``asof_join``'s
    all-groups split (the AQE-skew-join philosophy: repair only the
    skewed keys): one scalars-only count job sizes the largest group; at
    or under ``auto_budget`` rows the plain one-shuffle path runs
    unchanged. Above it, ONLY the over-budget groups are bucketed — a
    per-hot-group width table (``<= total_rows / auto_budget`` rows, so
    broadcastable by construction) rides a broadcast join, each hot
    group's own time range split by the hot-group rule ``asof_join``
    shares (``_hot_widths``: memory ``c/auto_budget`` and latency ``4x
    parallelism`` bounds), while every cold group collapses to a single
    bucket (its window cost is the plain path's). A/B:
    tools/sessionize_skew_ab.py, BENCH/SESSIONIZE_SKEW.md.
    """
    if float(gap) != int(gap):
        raise ValueError(
            f"gap must be integral in the ordinal unit of {ts_col!r} "
            f"(got {gap!r}: a cast('long') would silently truncate it)"
        )
    gap = int(gap)
    by = [by] if isinstance(by, str) else list(by)
    dt = df.schema[ts_col].dataType
    t = _ordinal_long(F.col(ts_col), dt)

    width_df = None
    if bucket_width == "auto":
        width_df = _hot_widths(df, by, t, auto_budget).select(*by, "__w")
        if not width_df.count():  # every group is single-task-sized
            width_df = bucket_width = None
    elif bucket_width is not None:
        bucket_width = _width(bucket_width)

    if bucket_width is None:
        w = Window.partitionBy(*by).orderBy(t.asc())
        is_new = F.when(
            t - F.lag(t).over(w) <= F.lit(gap).cast("long"), F.lit(0)
        ).otherwise(F.lit(1))  # first row: lag null -> comparison null -> 1
        return df.withColumn(
            session_col,
            F.sum(is_new).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long"),
        )

    u = df.withColumn("__t0", t)
    if width_df is not None:
        # hot groups get their own width; cold groups (null __w after the
        # left join) collapse to bucket 0 — exactly the plain window's
        # per-group partition, so they pay nothing for the repair
        u = u.join(F.broadcast(width_df), on=by, how="left").withColumn(
            "__b",
            F.expr(
                "case when __w is null then 0L "
                "else (__t0 - pmod(__t0, __w)) div __w end"
            ),
        ).drop("__w")
    else:
        u = u.withColumn("__b", _floor_div("__t0", bucket_width))
    wloc = Window.partitionBy(*by, "__b").orderBy(F.col("__t0").asc())
    # provisional: every bucket's first row flags a new session; the
    # stitch below retracts it when the previous bucket reaches across
    loc_new = F.when(
        F.col("__t0") - F.lag("__t0").over(wloc) <= F.lit(gap).cast("long"),
        F.lit(0),
    ).otherwise(F.lit(1))
    u = u.withColumn(
        "__lid",
        F.sum(loc_new).over(
            wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    # the windowed rows feed BOTH the per-bucket stats and the final
    # join; without materialization Catalyst re-runs the whole
    # scan+shuffle+sort+window pipeline for each consumer (measured —
    # exchange reuse does not fire across the aggregate), and with it
    # AQE sees the true (tiny) bstats size and broadcasts the stitch
    ).localCheckpoint()
    # one row per occupied (group, bucket)
    bstats = u.groupBy(*by, "__b").agg(
        F.min("__t0").alias("__ft"),
        F.max("__t0").alias("__lt"),
        F.max("__lid").alias("__nn"),
    )
    wb = Window.partitionBy(*by).orderBy(F.col("__b").asc())
    bstats = (
        bstats.withColumn(
            "__cont",
            F.when(
                F.col("__ft") - F.lag("__lt").over(wb)
                <= F.lit(gap).cast("long"),
                F.lit(1),
            ).otherwise(F.lit(0)),  # first occupied bucket: lag null -> 0
        )
        .withColumn(
            "__off",
            F.coalesce(
                F.sum(F.col("__nn") - F.col("__cont")).over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(*by, "__b", "__cont", "__off")
    )
    out = u.join(bstats, on=[*by, "__b"], how="inner").withColumn(
        session_col,
        (F.col("__off") + F.col("__lid") - F.col("__cont")).cast("long"),
    )
    return out.select(*df.columns, session_col)


def _width(bucket_width) -> int:
    """``bucket_width`` as a positive int: the one check every temporal
    operator runs on an explicit width, before any job."""
    w = int(bucket_width)
    if w <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    return w


def _floor_div(col: str, w: int, tier: str | None = None):
    """int64 floor division by ``w``, or by ``w << tier`` given a tier
    column (pmod first keeps floor semantics for negatives; `div` avoids
    the double-division rounding past 2^53)."""
    wt = f"{int(w)}L" if tier is None else f"shiftleft({int(w)}L, {tier})"
    return F.expr(f"({col} - pmod({col}, {wt})) div {wt}")


def _hot_widths(df: DataFrame, by: list[str], t, auto_budget: int) -> DataFrame:
    """The hot-group rule of ``bucket_width="auto"``: one row ``(*by, __c,
    __w)`` per ``by`` group of more than ``auto_budget`` rows. ``__w``
    splits the group's range of ``t`` into ``max(memory, latency)``
    buckets, at least one unit wide: memory ``c/auto_budget`` (a bucket
    fits a task), latency ``min(4 x defaultParallelism, c/65536)`` (the
    group spreads over the cluster, no bucket under 64k rows)."""
    budget = int(auto_budget)
    par = df.sparkSession.sparkContext.defaultParallelism
    c = F.col("__c")
    nb = F.greatest(
        F.ceil(c / F.lit(budget)), F.least(F.lit(4 * par), F.ceil(c / F.lit(65536)))
    )
    return (
        df.groupBy(*by)
        .agg(F.count("*").alias("__c"), F.min(t).alias("__lo"), F.max(t).alias("__hi"))
        .where(c > budget)
        .select(
            *by, "__c",
            F.greatest(F.lit(1), F.ceil((F.col("__hi") - F.col("__lo") + 1) / nb))
            .cast("long").alias("__w"),
        )
    )


def _prep(df: DataFrame, s_col: str, e_col: str) -> DataFrame:
    """``df`` with int64 ordinals ``__s``/``__e``; an interval with
    ``end < start`` matches nothing (as under BETWEEN) and is dropped."""
    s_o = _ordinal_long(F.col(s_col), df.schema[s_col].dataType)
    e_o = _ordinal_long(F.col(e_col), df.schema[e_col].dataType)
    return df.withColumn("__s", s_o).withColumn("__e", e_o).where(
        F.col("__e") >= F.col("__s")
    )


def _tier_of(w: int, nt: int):
    """Smallest tier whose width ``w * 2^t`` covers the interval length."""
    return F.least(
        F.lit(nt - 1),
        F.greatest(
            F.lit(0),
            F.ceil(F.log2((F.col("__e") - F.col("__s") + 1) / F.lit(float(w))))
            .cast("int"),
        ),
    )


def _tier_lits(tiers):
    """Tier numbers as an ``array<int>`` literal (typed when empty)."""
    return F.array(*[F.lit(int(t)) for t in tiers]) if tiers \
        else F.array().cast("array<int>")


def _interval_plan(sides, keys, bucket_width, tier_threshold, stats=None, *, join=True):
    """The time-bucket plan of the interval joins, for ``_prep``-ed
    ``sides`` whose occupied-tier lists go under ``keys``.

    Returns ``(plan, nt, sides)``. ``plan`` is the ``stats=`` dict:
    ``width``, ``max_len`` and each side's occupied tiers. ``nt`` is the
    tier count, 0 for the flat plan. When tiered, ``sides`` carry their
    own tier ``__tv``. The flat plan stays its own path: run as the
    one-tier case, its extra per-row explode and join key measured up to
    a third slower on flat inputs.

    Given ``stats``, no job runs; a side whose dict lists no tier (the
    dict was planned flat) probes every tier, the safe superset. Else one
    scalars-only aggregate takes mean length (the ``"auto"`` width, ~2
    buckets per interval) and max length (the tier gate ``max_len/w >
    tier_threshold``); a join skips it when neither consumer exists
    (explicit width, tiering off). Tiered, one ``distinct`` job finds the
    occupied tiers of all sides, before the bucket explode. A join first
    checkpoints its (narrow) sides so that probe and the join share one
    lineage instead of each re-running the upstream (ADVICE r7)."""
    if stats is not None:
        bucket_width = stats["width"]
    if bucket_width != "auto":
        bucket_width = _width(bucket_width)
    no_tiers = tier_threshold is None or tier_threshold == float("inf")
    occ = None
    if stats is not None:
        max_len = int(stats["max_len"])
        occ = [list(stats.get(k) or []) for k in keys]
    elif bucket_width == "auto" or not no_tiers or not join:
        n = (F.col("__e") - F.col("__s") + 1).alias("n")
        row = reduce(DataFrame.unionAll, [sd.select(n) for sd in sides]).agg(
            F.avg("n").alias("m"), F.max("n").alias("mx")
        ).collect()[0]
        if bucket_width == "auto":
            bucket_width = max(1, int(row["m"] or 1))
        max_len = int(row["mx"] or 1)
    else:
        max_len = 0
    w, nt = bucket_width, 0
    if not no_tiers and -(-max_len // w) > int(tier_threshold):
        nt = max(1, math.ceil(math.log2(max(max_len / w, 1.0))) + 1)
        sides = [sd.withColumn("__tv", _tier_of(w, nt)) for sd in sides]
        if occ is None:
            if join:
                sides = [sd.localCheckpoint() for sd in sides]
            rows = reduce(DataFrame.unionAll, [
                sd.select(F.lit(i).alias("__i"), "__tv") for i, sd in enumerate(sides)
            ]).distinct().collect()
            occ = [sorted(r["__tv"] for r in rows if r["__i"] == i)
                   for i in range(len(sides))]
        else:
            occ = [o or list(range(nt)) for o in occ]
    else:
        occ = [[] for _ in keys]
    return {"width": w, "max_len": max_len, **dict(zip(keys, occ))}, nt, sides


def _burst(df: DataFrame, w: int, tier: str | None = None) -> DataFrame:
    """Explode each interval into the buckets it covers at width ``w``
    (``w << tier`` given a tier column): ``sequence(floor(s/wt),
    floor(e/wt))``, a ~(len/wt + 1) fan-out."""
    return df.withColumn(
        "__bk",
        F.explode(F.sequence(_floor_div("__s", w, tier), _floor_div("__e", w, tier))),
    )


def interval_stats(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_width="auto",
    tier_threshold: int | None = 64,
) -> dict:
    """Precompute the catalog statistics ``interval_join`` needs — width,
    max length, occupied tiers — as a plain dict the caller persists and
    passes back via ``stats=``. A serving deployment computes this ONCE
    per interval dataset (at ingest / compaction, exactly like table
    statistics) so every query-path join runs with ZERO driver jobs
    before the join itself (r7 soft spot: the occupied-tier set was
    recomputed per call).

    Contract: the dict describes the interval set the join will read.
    Refresh it when the data changes — the safe staleness direction is
    ``max_len`` an upper bound and ``occupied`` a superset (extra probe
    tiers cost empty lookups, never correctness); an interval LONGER
    than ``max_len`` whose clamped tier is missing from ``occupied``
    would be silently unmatched, the same contract violation as a stale
    index.
    """
    return _interval_plan(
        [_prep(intervals, start_col, end_col)], ("occupied",),
        bucket_width, tier_threshold, join=False,
    )[0]


def interval_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    on: str,
    by: list[str] | str | None = None,
    bucket_width="auto",
    suffix: str = "_p",
    tier_threshold: int | None = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Point-in-interval join: every (interval, point) pair with
    ``start <= point.on <= end`` (closed ends — SQL ``BETWEEN``), the
    other temporal operator Spark lacks natively (BASELINE task list:
    "as-of join, range join, ...").

    The naive formulations are a theta join (cross product + filter) or
    a key-only equi-join that explodes every covered unit; both die at
    scale. Here intervals explode into TIME BUCKETS of ``bucket_width``
    ordinal units (``explode(sequence(floor(s/w), floor(e/w)))`` — a
    bounded ~(len/w + 1) fan-out), points take their ONE bucket key, and
    the join is a plain equi-join on (by?, bucket) with the exact
    between refine. A point has exactly one bucket, so no pair can meet
    twice — no dedup shuffle exists in the plan.

    ``bucket_width="auto"`` sizes w to the mean interval length (the
    planner's one scalars-only aggregate, ``_interval_plan``; ~2
    buckets per interval), the balance point between interval fan-out
    (len/w) and bucket occupancy (points per w). Intervals with ``end <
    start`` match nothing and are dropped, as under BETWEEN. Ordinal
    units follow the column types (``_ordinal_long``): native for ints,
    micros for timestamps, days for dates.

    **Length skew — the tiered plan.** A mean-sized w leaves one
    "always-on" interval exploding len/w rows — unbounded under
    interval-length skew. The planner's same aggregate therefore also
    takes the MAX length, and when ``max_len/w > tier_threshold``
    the plan switches to a multi-resolution index (the interval-tree
    idea, relationally): tier t has width ``w * 2^t``; each interval
    lands ONLY in the smallest tier that covers its own length, where
    it explodes into at most ~3 buckets; each point probes its one
    bucket in every tier that holds intervals (<= log2(max_len/w)+1
    keys — the 3x3-probe pattern on the time axis; the planner finds
    the occupied tiers in one ``distinct`` job). Fan-out is O(1) per
    interval and O(log length-spread) per point, both sides bounded
    regardless of skew. Exactly-once survives: an interval exists in a single tier,
    and a point has one bucket there. A mis-rounded tier estimate can
    only widen an interval's bucket count by one — never correctness.

    Scale shape: one explode + one equi-join, shuffle keyed by
    (by[, tier], bucket). Inherent output skew (a moment covered by
    millions of intervals) is a property of the answer, not the plan;
    the bucket key spreads DISJOINT time ranges regardless.

    ``stats=`` (a dict from ``interval_stats``, r8) replaces every
    driver-side planning job — width/max/occupied come from the
    persisted catalog statistic and the call plans with zero collects
    and zero checkpoints. When given, it overrides ``bucket_width``;
    see ``interval_stats`` for the staleness contract.
    """
    by = [] if by is None else [by] if isinstance(by, str) else list(by)
    plan, nt, (iv,) = _interval_plan(
        [_prep(intervals, start_col, end_col)], ("occupied",),
        bucket_width, tier_threshold, stats,
    )
    w = plan["width"]
    pt = points.withColumn("__t", _ordinal_long(F.col(on), points.schema[on].dataType))
    clash = (set(intervals.columns) & set(points.columns)) - set(by)
    for c in clash:  # the by keys join, the rest ride suffixed
        pt = pt.withColumnRenamed(c, f"{c}{suffix}")
    keys = [*by, "__bk"]
    tier = None
    if nt:
        # points probe their one bucket in each tier that actually holds
        # intervals — with the common bimodal length mix (short jobs +
        # always-on windows) that is 2-3 tiers, not log2(spread); measured
        # at 4M points x 15 nominal tiers, the all-tiers probe dominated
        pt = pt.withColumn("__tv", F.explode(_tier_lits(plan["occupied"])))
        keys, tier = [*by, "__tv", "__bk"], "__tv"
    iv = _burst(iv, w, tier)
    pt = pt.withColumn("__bk", _floor_div("__t", w, tier))
    joined = iv.join(pt, keys).where(
        F.col("__t").between(F.col("__s"), F.col("__e"))
    )
    return joined.drop("__s", "__e", "__t", "__bk", "__tv")


def interval_overlap_stats(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width="auto",
    tier_threshold: int | None = 64,
) -> dict:
    """Catalog statistics for ``interval_overlap_join`` (the two-sided
    twin of ``interval_stats``): width/max over BOTH sides plus each
    side's occupied tier set. Same persistence contract — compute at
    ingest, pass back via ``stats=``, refresh when data changes
    (supersets are the safe staleness direction)."""
    return _interval_plan(
        [_prep(left, left_start, left_end), _prep(right, right_start, right_end)],
        ("occupied_l", "occupied_r"), bucket_width, tier_threshold, join=False,
    )[0]


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    by: list[str] | str | None = None,
    bucket_width="auto",
    suffix: str = "_r",
    tier_threshold: int | None = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Interval x interval overlap join: pairs with
    ``l.start <= r.end AND r.start <= l.end`` (closed ends).

    Both sides explode into buckets, but a pair overlapping many
    buckets must be emitted ONCE — instead of a dedup shuffle, each
    pair is claimed only in the bucket ``max(floor(l.s/w),
    floor(r.s/w))`` (the later of the two start buckets, which both
    sides provably cover whenever the pair overlaps) — the standard
    spatial-join reporting trick, zero extra passes. ``bucket_width=
    "auto"`` sizes w to the mean length across BOTH sides.

    **Length skew — the tiered plan** (same trigger as
    ``interval_join``: the planner's aggregate also takes the max
    length, and past ``max_len/w > tier_threshold`` the flat explode
    would be unbounded). Tier t has width ``w * 2^t``; each interval
    emits entries at its OWN tier (the smallest covering its length —
    <= ~3 buckets) AND at every coarser tier the other side occupies
    (<= ~3 buckets each, so <=
    3·log2(length-spread) entries total). A pair is claimed exactly
    once at the joint tier ``T = max(tier_l, tier_r)`` — both sides
    provably emit there — in the later-start bucket at T's width, the
    same covered-bucket argument one level up. Fan-out is
    O(log spread) per interval regardless of skew; exactness does not
    depend on the tier estimate (a mis-rounding only widens an
    interval's bucket count by one).

    ``stats=`` (from ``interval_overlap_stats``, r8) replaces every
    driver-side planning job, overriding ``bucket_width`` — the
    serve-many shape; see ``interval_stats`` for the staleness contract.
    """
    by = [] if by is None else [by] if isinstance(by, str) else list(by)
    plan, nt, (l, r) = _interval_plan(
        [_prep(left, left_start, left_end), _prep(right, right_start, right_end)],
        ("occupied_l", "occupied_r"), bucket_width, tier_threshold, stats,
    )
    w = plan["width"]
    tier = "__tk" if nt else None

    def burst(df, side, other_occ):
        if nt:
            # each side emits at its OWN tier plus only the OTHER side's
            # occupied tiers above it — the emit set that can actually meet
            # a partner; with bimodal lengths that is 2-3 entries, not
            # log2(spread)
            emit = F.array_union(
                F.array(F.col("__tv")),
                F.filter(_tier_lits(other_occ), lambda t: t > F.col("__tv")),
            )
            df = df.withColumn("__tk", F.explode(emit))
        df = _burst(df, w, tier)
        for c in ("__s", "__e", "__tv"):
            df = df.withColumnRenamed(c, f"{c}_{side}")
        return df

    lb = burst(l, "l", plan["occupied_r"])
    rb = burst(r, "r", plan["occupied_l"])
    for c in (set(left.columns) & set(right.columns)) - set(by):
        rb = rb.withColumnRenamed(c, f"{c}{suffix}")
    # claim each pair exactly once: in the later start bucket, which both
    # exploded sides cover whenever the intervals overlap — tiered, at the
    # JOINT tier (the coarser of the two own tiers; both sides emit there)
    claim = F.col("__bk") == F.greatest(
        _floor_div("__s_l", w, tier), _floor_div("__s_r", w, tier)
    )
    if nt:
        claim = claim & (F.col("__tk") == F.greatest("__tv_l", "__tv_r"))
    joined = lb.join(rb, [*by, *([tier] if nt else []), "__bk"]).where(
        (F.col("__s_l") <= F.col("__e_r"))
        & (F.col("__s_r") <= F.col("__e_l"))
        & claim
    )
    return joined.drop(
        "__s_l", "__e_l", "__s_r", "__e_r", "__tv_l", "__tv_r", "__tk", "__bk"
    )


def session_agg(
    df: DataFrame,
    by: list[str] | str,
    ts_col: str,
    gap_seconds: int,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE ``session_window`` —
    one aggregation, no window-function sort, and the expression runs
    unchanged under Structured Streaming (``readStream`` + watermark),
    which makes it the engine's streaming-sessionization story where
    ``sessionize`` (row-level ordinals via a running sum) is the batch
    labeling story.

    Semantics are Spark's, pinned by test: an event at ``t`` extends
    its session window to ``t + gap`` and Spark merges TOUCHING
    windows, so a follower at exactly ``t + gap`` joins the session —
    the same closed ``<= gap`` rule as ``sessionize`` (the DuckDB
    oracle mirrors it). Returns one row per (by, session):
    ``session_start`` (the first event's timestamp), ``n`` events, and
    optionally ``sum_v``.

    Scale shape: a single hash aggregate keyed by (by, merged session)
    — Spark merges overlapping session windows inside the aggregation,
    partial merge included, so a hot group costs one aggregation task's
    merge, not a full-window sort.
    """
    by = [by] if isinstance(by, str) else list(by)
    aggs = [F.count("*").cast("long").alias("n")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_v"))
    out = df.groupBy(
        *by, F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds")
    ).agg(*aggs)
    return out.select(
        *by,
        F.col("session_window.start").alias("session_start"),
        *[c for c in ("n", "sum_v") if c in out.columns],
    )
