"""asof_join — nearest-predecessor temporal join (round 5)."""

import pandas as pd
import pytest
from pyspark.sql.functions import col as F_col

from pyramidscheme_jl_spark.operators.temporal import asof_join


@pytest.fixture(scope="module")
def spark():
    from pyramidscheme_jl_spark.session import get_spark

    s = get_spark(app="temporal-tests", master="local[4]", shuffle_partitions=4)
    yield s


def test_asof_join_matches_pandas_merge_asof(spark):
    trades = [
        # (trade_id, sym, t)
        (1, "a", 100), (2, "a", 205), (3, "a", 205), (4, "b", 50),
        (5, "b", 400), (6, "c", 10),
    ]
    quotes = [
        # (quote_id, sym, t, px)
        (10, "a", 90, 1.0), (11, "a", 100, 2.0), (12, "a", 200, 3.0),
        (13, "b", 50, 4.0), (14, "b", 55, 5.0), (15, "c", 20, 6.0),
    ]
    l = spark.createDataFrame(trades, "trade_id long, sym string, t long")
    r = spark.createDataFrame(quotes, "quote_id long, sym string, t long, px double")
    got = {
        (row["sym"], row["trade_id"]): (row["quote_id_right"], row["px_right"], row["t_right"])
        for row in asof_join(
            l, r, on="t", by="sym", tiebreak="quote_id"
        ).collect()
    }
    lp = pd.DataFrame(trades, columns=["trade_id", "sym", "t"]).sort_values("t")
    rp = pd.DataFrame(quotes, columns=["quote_id", "sym", "t", "px"]).sort_values("t")
    mp = pd.merge_asof(lp, rp, on="t", by="sym", direction="backward")
    for _, m in mp.iterrows():
        key = (m["sym"], m["trade_id"])
        if pd.isna(m["quote_id"]):
            assert key not in got  # inner as-of drops unmatched
        else:
            assert got[key][0] == int(m["quote_id"]), (key, got.get(key), m)
    # c's trade at t=10 precedes every quote -> dropped
    assert ("c", 6) not in got
    # inclusive at equal timestamps: trade (4,"b",50) matches quote 13
    assert got[("b", 4)][0] == 13

    # equal-timestamp duplicate right rows resolve to the HIGHEST tiebreak
    r2 = spark.createDataFrame(
        quotes + [(16, "a", 100, 9.0)], "quote_id long, sym string, t long, px double"
    )
    got2 = {
        (row["sym"], row["trade_id"]): row["quote_id_right"]
        for row in asof_join(l, r2, on="t", by="sym", tiebreak="quote_id").collect()
    }
    assert got2[("a", 1)] == 16  # beats quote 11 at the same t

    # tolerance (in units of `on`): match farther back than 100 drops
    got3 = {
        (row["sym"], row["trade_id"]): row["quote_id_right"]
        for row in asof_join(
            l, r, on="t", by="sym", tiebreak="quote_id", tolerance=100
        ).collect()
    }
    assert ("a", 2) in got3 and got3[("a", 2)] == 12  # gap 5
    assert ("b", 5) not in got3  # gap 345 > 100


def test_asof_join_plan_is_python_free(spark):
    l = spark.range(100).select(
        F_col("id").alias("lid"), (F_col("id") % 5).alias("g"), (F_col("id") * 3).alias("t")
    )
    r = spark.range(50).select(
        F_col("id").alias("rid"), (F_col("id") % 5).alias("g"), (F_col("id") * 7).alias("t")
    )
    df = asof_join(l, r, on="t", by="g", tiebreak="rid")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Window" in plan



def test_time_rollup_cascade_matches_direct(spark):
    """Each coarser grain is re-aggregated from the finer grain's
    partials; results must equal direct aggregation from the raw rows,
    and grain totals must be conserved."""
    rows = [(i, 60 * i + (i * 37) % 60, (i % 7) * 100) for i in range(500)]
    # pre-1970 epochs: floor(-90/60)*60 = -120, NOT trunc's -60 (ADVICE r5)
    rows += [(1000 + i, -90 - 7000 * i, 100) for i in range(4)]
    df = spark.createDataFrame(rows, "event_id long, ts_s long, cents long")
    from pyramidscheme_jl_spark.operators.temporal import time_rollup

    out = time_rollup(df, ts_col="ts_s", value_col="cents").collect()
    got = {(r["grain"], r["bucket_s"]): (r["n"], r["sum_v"]) for r in out}
    import collections

    direct = {g: collections.defaultdict(lambda: [0, 0]) for g in ("minute", "hour", "day")}
    for _, t, c in rows:
        for g, sec in (("minute", 60), ("hour", 3600), ("day", 86400)):
            b = t // sec * sec  # python // is floor — the pinned semantics
            direct[g][b][0] += 1
            direct[g][b][1] += c
    assert set(got) == {(g, b) for g, bs in direct.items() for b in bs}
    for g, buckets in direct.items():
        for b, (n, s) in buckets.items():
            assert got[(g, b)] == (n, s), (g, b)
    n_minutes = sum(1 for k in got if k[0] == "minute")
    assert n_minutes > 400  # the cascade actually produced fine buckets
    # conservation across grains
    for g in ("minute", "hour", "day"):
        assert sum(v[0] for k, v in got.items() if k[0] == g) == len(rows)

    with pytest.raises(ValueError, match="finest-first"):
        time_rollup(df, grains=("day", "minute"))


@pytest.mark.parametrize("width", [1, 7, 64, 10_000])
def test_asof_join_bucketed_equals_plain(spark, width):
    """Skew control (VERDICT r5 #5): the range-bucketed two-pass variant
    must return EXACTLY the plain window's rows at every bucket width —
    including widths that slice groups mid-run (7), leave empty right
    buckets, and degenerate to one bucket (10_000)."""
    import random

    rng = random.Random(99)
    left = [
        (i, f"u{rng.randrange(5)}", rng.randrange(0, 1000))
        for i in range(300)
    ]
    right = [
        (1000 + j, f"u{rng.randrange(5)}", rng.randrange(0, 1000), float(j))
        for j in range(120)
    ]
    l = spark.createDataFrame(left, "eid long, user string, t long")
    r = spark.createDataFrame(right, "qid long, user string, t long, v double")

    def rows(**kw):
        return sorted(
            tuple(row) for row in asof_join(
                l, r, on="t", by="user", tiebreak="qid",
                tolerance=200, **kw
            ).collect()
        )

    assert rows(bucket_width=width) == rows()


def test_asof_join_timestamp_ntz_on(spark):
    """``on`` may be timestamp_ntz (the events.parquet ts type): a bare
    cast-to-long is refused by Spark, so bucketing/tolerance go through
    the microsecond ordinal. Caught by driving events.ts end-to-end."""
    l = spark.sql(
        "select * from values "
        "(1, 'a', timestamp_ntz'2001-01-01 00:00:10'),"
        "(2, 'a', timestamp_ntz'2001-01-01 00:01:10') t(eid, user, ts)"
    )
    r = spark.sql(
        "select * from values "
        "(10, 'a', timestamp_ntz'2001-01-01 00:00:05', 1.5),"
        "(11, 'a', timestamp_ntz'2001-01-01 00:01:00', 2.5) t(qid, user, ts, v)"
    )
    plain = asof_join(l, r, on="ts", by="user", tiebreak="qid")
    got = {(row.eid, row.v_right) for row in plain.collect()}
    assert got == {(1, 1.5), (2, 2.5)}
    buck = asof_join(l, r, on="ts", by="user", tiebreak="qid", bucket_width=30_000_000)
    assert sorted(map(tuple, buck.collect())) == sorted(map(tuple, plain.collect()))
    # tolerance is MICROSECONDS for timestamp on-columns: 5 s window keeps
    # only the eid=1 match (5 s gap); eid=2's gap is 10 s
    tol = asof_join(l, r, on="ts", by="user", tiebreak="qid", tolerance=5_000_000)
    assert {row.eid for row in tol.collect()} == {1}


def test_asof_join_bucketed_exact_past_2p53(spark):
    """ADVICE r6: bucket ids must come from int64 `div`, not double
    division — at nanosecond-scale ordinals (>= 2^53) double rounding
    would mis-bucket rows. Two ordinals one bucket apart near 2^60 must
    land in different buckets and match exactly like the plain window."""
    base = 1 << 60
    w = 1000
    l = spark.createDataFrame(
        [(1, "u", base + 1500), (2, "u", base + 2500)], "eid long, user string, t long"
    )
    r = spark.createDataFrame(
        [(10, "u", base + 1400, 1.0), (11, "u", base + 2400, 2.0)],
        "qid long, user string, t long, v double",
    )
    plain = sorted(
        map(tuple, asof_join(l, r, on="t", by="user", tiebreak="qid").collect())
    )
    buck = sorted(
        map(
            tuple,
            asof_join(
                l, r, on="t", by="user", tiebreak="qid", bucket_width=w
            ).collect(),
        )
    )
    assert buck == plain
    got = {(row.eid, row.v_right) for row in asof_join(
        l, r, on="t", by="user", tiebreak="qid", bucket_width=w
    ).collect()}
    assert got == {(1, 1.0), (2, 2.0)}


def test_asof_join_auto_bucketing(spark):
    """VERDICT r6 #6: bucket_width="auto" — hot keys trigger the bucketed
    two-pass via one count job (results identical to plain), uniform
    small groups resolve to the plain window."""
    import random

    rng = random.Random(5)
    left = [(i, "hot" if i % 2 == 0 else f"u{rng.randrange(8)}", rng.randrange(0, 5000))
            for i in range(600)]
    right = [(1000 + j, "hot" if j % 2 == 0 else f"u{rng.randrange(8)}",
              rng.randrange(0, 5000), float(j)) for j in range(300)]
    l = spark.createDataFrame(left, "eid long, user string, t long")
    r = spark.createDataFrame(right, "qid long, user string, t long, v double")

    def rows(**kw):
        return sorted(tuple(row) for row in asof_join(
            l, r, on="t", by="user", tiebreak="qid", **kw).collect())

    plain = rows()
    # budget smaller than the hot group -> triggers bucketing; identical
    assert rows(bucket_width="auto", auto_budget=100) == plain
    # budget above every group -> resolves to the plain path; identical
    assert rows(bucket_width="auto", auto_budget=10_000_000) == plain


def test_asof_direction_vs_pandas_merge_asof(spark):
    """r7 directions: backward/forward/nearest each match pandas
    merge_asof (the reference semantics) on a random multi-group
    fixture, and the bucketed path stays bit-identical to plain for
    every direction at several widths."""
    import random

    import pandas as pd

    rng = random.Random(17)
    users = [f"u{i}" for i in range(6)]
    left = [(i, rng.choice(users), rng.randrange(0, 10000)) for i in range(400)]
    # unique (user, t) on the right: sidesteps engine-specific duplicate
    # tie rules (ours: highest/lowest tiebreak; pandas: input order)
    seen, right = set(), []
    while len(right) < 200:
        u, t = rng.choice(users), rng.randrange(0, 10000)
        if (u, t) not in seen:
            seen.add((u, t))
            right.append((len(right), u, t, float(len(right))))
    l = spark.createDataFrame(left, "eid long, user string, t long")
    r = spark.createDataFrame(right, "qid long, user string, t long, v double")
    lpd = pd.DataFrame(left, columns=["eid", "user", "t"]).sort_values("t")
    rpd = pd.DataFrame(right, columns=["qid", "user", "t", "v"]).sort_values("t")

    for direction in ("backward", "forward", "nearest"):
        got = {
            row["eid"]: row["v_right"]
            for row in asof_join(
                l, r, on="t", by="user", direction=direction
            ).collect()
        }
        exp_df = pd.merge_asof(
            lpd, rpd, on="t", by="user", direction=direction
        )
        exp = {
            int(row.eid): float(row.v)
            for row in exp_df.itertuples()
            if row.v == row.v  # drop NaN: ours is inner
        }
        assert got == exp, f"direction={direction}"
        for w in (1, 7, 1000):
            bucketed = {
                row["eid"]: row["v_right"]
                for row in asof_join(
                    l, r, on="t", by="user", direction=direction,
                    bucket_width=w,
                ).collect()
            }
            assert bucketed == got, f"direction={direction} width={w}"


def test_asof_direction_semantics_pinned(spark):
    """Hand-pinned contracts: forward is inclusive at equal timestamps,
    nearest breaks exact-distance ties backward, tolerance applies per
    direction, and bad directions raise."""
    l = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 7), (3, "a", 100)], "eid long, user string, t long"
    )
    r = spark.createDataFrame(
        [(1, "a", 5, 5.0), (2, "a", 7, 7.0), (3, "a", 15, 15.0)],
        "qid long, user string, t long, v double",
    )

    def m(**kw):
        return {
            row["eid"]: row["v_right"]
            for row in asof_join(l, r, on="t", by="user", **kw).collect()
        }

    # t=10: backward->5/7? latest at-or-before is 7; forward->15;
    # nearest: |10-7|=3 vs |15-10|=5 -> 7. t=7 forward: inclusive -> 7.
    assert m(direction="backward") == {1: 7.0, 2: 7.0, 3: 15.0}
    assert m(direction="forward") == {1: 15.0, 2: 7.0}
    assert m(direction="nearest") == {1: 7.0, 2: 7.0, 3: 15.0}
    # exact tie: left t=10 vs right 5 and 15 -> backward wins
    l2 = spark.createDataFrame([(9, "a", 10)], "eid long, user string, t long")
    r2 = spark.createDataFrame(
        [(1, "a", 5, 5.0), (2, "a", 15, 15.0)],
        "qid long, user string, t long, v double",
    )
    got = asof_join(l2, r2, on="t", by="user", direction="nearest").collect()
    assert [row["v_right"] for row in got] == [5.0]
    # tolerance is per-direction distance
    assert m(direction="forward", tolerance=4) == {2: 7.0}
    assert m(direction="nearest", tolerance=3) == {1: 7.0, 2: 7.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        m(direction="sideways")


def test_sessionize(spark):
    """Gap sessionization: 1-based per-group ordinals, deterministic
    under duplicate timestamps, ordinal units follow the column type."""
    from pyramidscheme_jl_spark.operators.temporal import sessionize

    rows = [
        ("a", 0), ("a", 10), ("a", 11), ("a", 50), ("a", 55), ("a", 200),
        ("b", 5), ("b", 300), ("b", 300), ("b", 301),
    ]
    df = spark.createDataFrame(rows, "user string, t long")
    got = {
        (r["user"], r["t"], r["session_id"])
        for r in sessionize(df, "user", "t", gap=30).collect()
    }
    assert got == {
        ("a", 0, 1), ("a", 10, 1), ("a", 11, 1),
        ("a", 50, 2), ("a", 55, 2), ("a", 200, 3),
        ("b", 5, 1), ("b", 300, 2), ("b", 300, 2), ("b", 301, 2),
    }
    # timestamp column: gap in MICROSECONDS (the asof ordinal contract)
    ts = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:00:01")],
        "user string, s string",
    ).selectExpr("user", "cast(s as timestamp) ts")
    two = sessionize(ts, "user", "ts", gap=999_999).collect()
    assert sorted(r["session_id"] for r in two) == [1, 2]
    one = sessionize(ts, "user", "ts", gap=1_000_000).collect()
    assert sorted(r["session_id"] for r in one) == [1, 1]


def test_sessionize_bucketed_bit_identical(spark):
    """r8 (VERDICT r7 #5): the bucketed hot-group repair must produce
    bit-identical session ids to the plain window for ANY bucket width —
    the fixture forces cross-bucket continuations, boundary duplicate
    timestamps, empty buckets, and a new-session-at-boundary, and sweeps
    widths from gap-sized to range-sized."""
    from pyramidscheme_jl_spark.operators.temporal import sessionize

    # deterministic irregular series: mix of dense runs (continuations
    # across any boundary), exact-gap steps, and long holes (empty
    # buckets between occupied ones)
    rows = []
    for g, seed in (("a", 3), ("b", 7), ("c", 11)):
        t, h = 0, seed
        for i in range(400):
            h = (h * 1103515245 + 12345) % (1 << 31)
            step = [1, 3, 30, 31, 250][h % 5]  # gap=30: 31 and 250 break
            t += step
            rows.append((g, t))
    # duplicate timestamps, incl. at multiples of small widths
    rows += [("a", 64), ("a", 64), ("b", 128), ("b", 128), ("b", 128)]
    df = spark.createDataFrame(rows, "user string, t long")
    plain = sorted(
        (r["user"], r["t"], r["session_id"])
        for r in sessionize(df, "user", "t", gap=30).collect()
    )
    for width in (7, 30, 64, 1024, 10**9):
        got = sorted(
            (r["user"], r["t"], r["session_id"])
            for r in sessionize(
                df, "user", "t", gap=30, bucket_width=width
            ).collect()
        )
        assert got == plain, f"width={width} diverged"
    # auto: tiny input stays on the plain path; forcing a small budget
    # takes the bucketed path — both identical
    for budget in (1 << 20, 16):
        got = sorted(
            (r["user"], r["t"], r["session_id"])
            for r in sessionize(
                df, "user", "t", gap=30, bucket_width="auto",
                auto_budget=budget,
            ).collect()
        )
        assert got == plain, f"auto budget={budget} diverged"
    # column order is preserved (the join must not reorder the schema)
    out = sessionize(df, "user", "t", gap=30, bucket_width=64)
    assert out.columns == ["user", "t", "session_id"]


def test_interval_join_brute_force(spark):
    """r7 interval join: pairs match a python brute force on a random
    fixture (incl. negative ordinals and empty intervals), identical
    across manual widths and auto, with and without by keys."""
    import random

    from pyramidscheme_jl_spark.operators.temporal import interval_join

    rng = random.Random(7)
    ivs = []
    for i in range(300):
        s = rng.randrange(-500, 9500)
        ln = rng.randrange(-5, 120)  # some end < start: match nothing
        ivs.append((i, f"g{i % 3}", s, s + ln))
    pts = [(1000 + j, f"g{j % 3}", rng.randrange(-600, 9700)) for j in range(400)]
    idf = spark.createDataFrame(ivs, "iv_id long, grp string, s long, e long")
    pdf = spark.createDataFrame(pts, "pt_id long, grp string, t long")

    expect_by = {
        (i, p) for i, g1, s, e in ivs for p, g2, t in pts
        if g1 == g2 and s <= t <= e
    }
    expect_nby = {
        (i, p) for i, _, s, e in ivs for p, _, t in pts if s <= t <= e
    }
    for width in ("auto", 1, 13, 5000):
        got = {
            (r["iv_id"], r["pt_id"])
            for r in interval_join(
                idf, pdf, "s", "e", "t", by="grp", bucket_width=width
            ).collect()
        }
        assert got == expect_by, f"width={width}"
    got_nby = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(idf, pdf.drop("grp"), "s", "e", "t").collect()
    }
    assert got_nby == expect_nby


def test_interval_overlap_join_brute_force(spark):
    """r7 overlap join: each overlapping pair emitted EXACTLY once (the
    later-start-bucket claim) — counts checked, not just sets."""
    import random

    from pyramidscheme_jl_spark.operators.temporal import (
        interval_overlap_join,
    )

    rng = random.Random(9)
    lv = [(i, rng.randrange(0, 2000), 0) for i in range(200)]
    lv = [(i, s, s + rng.randrange(0, 300)) for i, s, _ in lv]
    rv = [(500 + j, s, s + rng.randrange(0, 80))
          for j, s in ((j, rng.randrange(0, 2100)) for j in range(150))]
    ldf = spark.createDataFrame(lv, "l_id long, ls long, le long")
    rdf = spark.createDataFrame(rv, "r_id long, rs long, re long")
    expect = [
        (i, j) for i, ls, le in lv for j, rs, re in rv
        if ls <= re and rs <= le
    ]
    for width in ("auto", 1, 37, 10000):
        rows = interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_width=width
        ).collect()
        got = sorted((r["l_id"], r["r_id"]) for r in rows)
        assert got == sorted(expect), f"width={width}"  # exact multiset


def test_interval_join_dates(spark):
    """Date-typed columns ride the day ordinal; BETWEEN is closed."""
    from pyramidscheme_jl_spark.operators.temporal import interval_join

    idf = spark.createDataFrame(
        [(1, "2024-01-10", "2024-01-20")], "iv_id long, s string, e string"
    ).selectExpr("iv_id", "cast(s as date) s", "cast(e as date) e")
    pdf = spark.createDataFrame(
        [(1, "2024-01-10"), (2, "2024-01-20"), (3, "2024-01-21")],
        "pt_id long, d string",
    ).selectExpr("pt_id", "cast(d as date) d")
    got = sorted(
        r["pt_id"] for r in interval_join(idf, pdf, "s", "e", "d").collect()
    )
    assert got == [1, 2]


def test_interval_join_tiered_identical(spark):
    """r7 length-skew tiers: forcing the multi-resolution plan
    (tier_threshold=1) must reproduce the flat plan's pairs exactly,
    including on a fixture with one giant always-on interval among
    shorts (the case whose flat explode is unbounded)."""
    import random

    from pyramidscheme_jl_spark.operators.temporal import interval_join

    rng = random.Random(41)
    ivs = [(i, rng.randrange(0, 100000), 0) for i in range(150)]
    ivs = [(i, s, s + rng.randrange(0, 40)) for i, s, _ in ivs]
    ivs.append((900, -1000, 200000))  # always-on: flat would explode len/w
    ivs.append((901, 50000, 50000))  # single-instant interval
    pts = [(2000 + j, rng.randrange(-2000, 201000)) for j in range(300)]
    idf = spark.createDataFrame(ivs, "iv_id long, s long, e long")
    pdf = spark.createDataFrame(pts, "pt_id long, t long")
    expect = {
        (i, p) for i, s, e in ivs for p, t in pts if s <= t <= e
    }
    flat = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(
            idf, pdf, "s", "e", "t", bucket_width=20, tier_threshold=1 << 60
        ).collect()
    }
    tiered = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(
            idf, pdf, "s", "e", "t", bucket_width=20, tier_threshold=1
        ).collect()
    }
    assert flat == expect
    assert tiered == expect
    # auto trigger: the giant interval trips the max/w > 64 default
    auto = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(idf, pdf, "s", "e", "t").collect()
    }
    assert auto == expect


def test_interval_overlap_tiered_identical(spark):
    """r7 overlap tiers: forced multi-resolution plan reproduces the
    flat plan's pair MULTISET (exactly-once across tiers) on a skewed
    fixture with always-on intervals on both sides."""
    import random

    from pyramidscheme_jl_spark.operators.temporal import (
        interval_overlap_join,
    )

    rng = random.Random(43)
    lv = [(i, s, s + rng.randrange(0, 30))
          for i, s in ((i, rng.randrange(0, 50000)) for i in range(120))]
    lv.append((800, -500, 100000))  # always-on left
    rv = [(500 + j, s, s + rng.randrange(0, 500))
          for j, s in ((j, rng.randrange(0, 50000)) for j in range(100))]
    rv.append((901, 0, 90000))  # giant right
    rv.append((902, 20000, 20000))  # instant right
    ldf = spark.createDataFrame(lv, "l_id long, ls long, le long")
    rdf = spark.createDataFrame(rv, "r_id long, rs long, re long")
    expect = sorted(
        (i, j) for i, ls, le in lv for j, rs, re in rv
        if ls <= re and rs <= le
    )
    flat = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re",
            bucket_width=16, tier_threshold=1 << 60,
        ).collect()
    )
    tiered = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re",
            bucket_width=16, tier_threshold=1,
        ).collect()
    )
    auto = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re"
        ).collect()
    )
    assert flat == expect
    assert tiered == expect  # multiset equality: exactly-once across tiers
    assert auto == expect  # default threshold trips on the giants


def test_session_agg_native_window(spark):
    """r7: session_agg (native session_window) matches a python replay
    of the strict half-open gap rule, and the boundary tick differs
    from sessionize's closed rule exactly as documented."""
    from pyramidscheme_jl_spark.operators.temporal import (
        session_agg,
        sessionize,
    )

    rows = [
        ("a", 0, 1.0), ("a", 100, 2.0), ("a", 1900, 4.0),  # 1900 = 100+gap
        ("a", 5000, 8.0), ("b", 7, 16.0),
    ]
    df = spark.createDataFrame(rows, "user string, sec long, v double").selectExpr(
        "user", "timestamp_seconds(sec) ts", "sec", "v"
    )
    got = {
        (r["user"], r["session_start"].timestamp(), r["n"], r["sum_v"])
        for r in session_agg(df, "user", "ts", 1800, value_col="v").collect()
    }
    # Spark merges TOUCHING session windows: 1900 == 100 + gap joins
    # the first session (the closed rule, same as sessionize)
    assert got == {
        ("a", 0.0, 3, 7.0), ("a", 5000.0, 1, 8.0), ("b", 7.0, 1, 16.0),
    }
    # sessionize agrees on the boundary tick
    lab = {(r["user"], r["sec"], r["session_id"])
           for r in sessionize(df, "user", "sec", gap=1800).collect()}
    assert ("a", 1900, 1) in lab and ("a", 5000, 2) in lab


def test_session_agg_streaming(spark, tmp_path):
    """r7: the session_agg expression runs unchanged under Structured
    Streaming — file source, watermark, append mode. Two micro-batches
    (maxFilesPerTrigger=1): batch 2's timestamps advance the watermark
    past batch 1's sessions, which must then emit EXACTLY the batch
    result for those sessions (finalized sessions only — the append
    contract)."""
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "stream_src"
    b1 = spark.createDataFrame(
        [("a", 1000), ("a", 1100), ("b", 2000)], "user string, sec long"
    ).selectExpr("user", "timestamp_seconds(sec) ts")
    b1.coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)  # distinct mtimes -> stable batch order
    b2 = spark.createDataFrame(
        [("a", 500000)], "user string, sec long"  # far future: flushes b1
    ).selectExpr("user", "timestamp_seconds(sec) ts")
    b2.coalesce(1).write.mode("append").parquet(str(src))

    sdf = spark.readStream.schema("user string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy("user", F.session_window(F.col("ts"), "1800 seconds"))
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "user",
            F.col("session_window.start").cast("timestamp").alias("start"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_r7")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["user"], r["start"].timestamp(), r["n"])
        for r in spark.sql("select * from sess_r7").collect()
    }
    # batch-1 sessions finalized by batch 2's watermark; the far-future
    # session itself is still open and therefore absent
    assert got == {("a", 1000.0, 2), ("b", 2000.0, 1)}


def test_interval_join_stats_path_identical(spark):
    """r8 catalog-statistics path: interval_stats computed once and passed
    via stats= must reproduce the inline path's pairs exactly on both the
    flat and the tiered (skewed) plan."""
    import random

    from pyramidscheme_jl_spark.operators.temporal import (
        interval_join,
        interval_stats,
    )

    rng = random.Random(43)
    ivs = [(i, s := rng.randrange(0, 50000), s + rng.randrange(0, 30)) for i in range(120)]
    ivs.append((900, -500, 120000))  # giant: trips the tier trigger
    pts = [(2000 + j, rng.randrange(-1000, 121000)) for j in range(250)]
    idf = spark.createDataFrame(ivs, "iv_id long, s long, e long")
    pdf = spark.createDataFrame(pts, "pt_id long, t long")
    expect = {(i, p) for i, s, e in ivs for p, t in pts if s <= t <= e}

    # tiered: stats says occupied tiers; join must not run any stats job
    st = interval_stats(idf, "s", "e", bucket_width=20, tier_threshold=1)
    assert st["width"] == 20 and st["occupied"]  # the giant occupies a high tier
    got = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(
            idf, pdf, "s", "e", "t", tier_threshold=1, stats=st
        ).collect()
    }
    assert got == expect

    # flat: stats carries just the width
    st2 = interval_stats(idf, "s", "e", tier_threshold=None)
    got2 = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(
            idf, pdf, "s", "e", "t", tier_threshold=None, stats=st2
        ).collect()
    }
    assert got2 == expect
    # a dict planned flat lists no occupied tier; a join whose default
    # tier gate trips on it must probe every tier, not drop pairs
    assert st2["occupied"] == []
    got2t = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(idf, pdf, "s", "e", "t", stats=st2).collect()
    }
    assert got2t == expect

    # auto-width stats equals the inline auto decision
    st3 = interval_stats(idf, "s", "e")
    inline = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(idf, pdf, "s", "e", "t").collect()
    }
    got3 = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(idf, pdf, "s", "e", "t", stats=st3).collect()
    }
    assert got3 == inline == expect


def test_interval_overlap_stats_path_identical(spark):
    import random

    from pyramidscheme_jl_spark.operators.temporal import (
        interval_overlap_join,
        interval_overlap_stats,
    )

    rng = random.Random(44)
    ls = [(i, s := rng.randrange(0, 30000), s + rng.randrange(0, 50)) for i in range(100)]
    ls.append((800, 0, 90000))  # giant on the left
    rs = [(1000 + j, s := rng.randrange(0, 30000), s + rng.randrange(0, 200)) for j in range(100)]
    ldf = spark.createDataFrame(ls, "l_id long, ls long, le long")
    rdf = spark.createDataFrame(rs, "r_id long, rs long, re long")
    expect = {
        (li, rj)
        for li, a, b in ls
        for rj, c, d in rs
        if a <= d and c <= b
    }
    st = interval_overlap_stats(ldf, rdf, "ls", "le", "rs", "re", bucket_width=25, tier_threshold=1)
    assert st["occupied_l"] and st["occupied_r"]
    got = {
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", tier_threshold=1, stats=st
        ).collect()
    }
    assert got == expect
    # flat arm with stats
    st2 = interval_overlap_stats(ldf, rdf, "ls", "le", "rs", "re", tier_threshold=None)
    got2 = {
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", tier_threshold=None, stats=st2
        ).collect()
    }
    assert got2 == expect
    # the flat dict feeding a join whose default tier gate trips
    assert st2["occupied_l"] == st2["occupied_r"] == []
    got2t = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", stats=st2).collect()
    )
    assert got2t == sorted(expect)


def _temporal_fixtures(spark):
    """Small frames for the planning-only job counts: a hot ``by`` key for
    the as-of / sessionize auto rule, and one giant interval per side
    among shorts so the default tier gate trips."""
    import random

    rng = random.Random(5)
    ev = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else f"u{rng.randrange(8)}", rng.randrange(0, 5000))
         for i in range(600)],
        "eid long, user string, t long",
    )
    q = spark.createDataFrame(
        [(1000 + j, "hot" if j % 2 == 0 else f"u{rng.randrange(8)}",
          rng.randrange(0, 5000), float(j)) for j in range(300)],
        "qid long, user string, t long, v double",
    )
    ivs = [(i, s := rng.randrange(0, 50000), s + rng.randrange(0, 30)) for i in range(120)]
    ivs.append((900, -500, 120000))
    idf = spark.createDataFrame(ivs, "iv_id long, s long, e long")
    pdf = spark.createDataFrame(
        [(2000 + j, rng.randrange(-1000, 121000)) for j in range(250)], "pt_id long, t long"
    )
    rdf = spark.createDataFrame(
        [(3000 + j, s := rng.randrange(0, 50000), s + rng.randrange(0, 200)) for j in range(100)]
        + [(3900, 0, 90000)],
        "r_id long, rs long, re long",
    )
    return ev, q, idf, pdf, rdf


#: Upper bounds on the Spark jobs each planning-only call runs (no
#: action on the result), measured when every operator still planned
#: its own width; a call may run fewer, never more. ``stats=`` calls
#: run none.
_PLANNING_JOBS = {
    "asof_plain": 0,
    "asof_manual": 0,
    "asof_auto_cold": 3,
    "asof_auto_hot": 3,
    "sessionize_plain": 0,
    "sessionize_manual": 2,
    "sessionize_auto_cold": 3,
    "sessionize_auto_hot": 7,
    "interval_plain": 0,
    "interval_manual": 2,
    "interval_auto": 2,
    "interval_tiered": 5,
    "interval_stats_flat": 2,
    "interval_stats_tiered": 4,
    "interval_stats=": 0,
    "interval_stats=_tiered": 0,
    "overlap_plain": 0,
    "overlap_manual": 2,
    "overlap_auto": 2,
    "overlap_tiered": 8,
    "overlap_stats_flat": 2,
    "overlap_stats_tiered": 6,
    "overlap_stats=": 0,
    "overlap_stats=_tiered": 0,
}


def test_temporal_planning_jobs_per_call(spark):
    """Pins the Spark jobs each temporal operator runs at call time in
    every planning mode: plain, manual width, ``"auto"`` below and above
    ``auto_budget``, tiered, and the ``stats=`` path, which must run
    none."""
    from pyramidscheme_jl_spark.operators.temporal import (
        interval_join,
        interval_overlap_join,
        interval_overlap_stats,
        interval_stats,
        sessionize,
    )

    ev, q, idf, pdf, rdf = _temporal_fixtures(spark)
    st = interval_stats(idf, "s", "e", bucket_width=20, tier_threshold=1)
    ost = interval_overlap_stats(idf, rdf, "s", "e", "rs", "re", bucket_width=25, tier_threshold=1)
    st_flat = interval_stats(idf, "s", "e", tier_threshold=None)
    ost_flat = interval_overlap_stats(idf, rdf, "s", "e", "rs", "re", tier_threshold=None)

    def asof(**kw):
        return asof_join(ev, q, on="t", by="user", tiebreak="qid", **kw)

    def ij(**kw):
        return interval_join(idf, pdf, "s", "e", "t", **kw)

    def oj(**kw):
        return interval_overlap_join(idf, rdf, "s", "e", "rs", "re", **kw)

    calls = {
        "asof_plain": lambda: asof(),
        "asof_manual": lambda: asof(bucket_width=64),
        "asof_auto_cold": lambda: asof(bucket_width="auto", auto_budget=1 << 20),
        "asof_auto_hot": lambda: asof(bucket_width="auto", auto_budget=100),
        "sessionize_plain": lambda: sessionize(ev, "user", "t", gap=30),
        "sessionize_manual": lambda: sessionize(ev, "user", "t", gap=30, bucket_width=64),
        "sessionize_auto_cold": lambda: sessionize(ev, "user", "t", gap=30, bucket_width="auto"),
        "sessionize_auto_hot": lambda: sessionize(
            ev, "user", "t", gap=30, bucket_width="auto", auto_budget=100
        ),
        "interval_plain": lambda: ij(bucket_width=20, tier_threshold=None),
        "interval_manual": lambda: ij(bucket_width=1 << 20),
        "interval_auto": lambda: ij(tier_threshold=1 << 60),
        "interval_tiered": lambda: ij(bucket_width=20, tier_threshold=1),
        "interval_stats_flat": lambda: interval_stats(idf, "s", "e", tier_threshold=None),
        "interval_stats_tiered": lambda: interval_stats(idf, "s", "e", tier_threshold=1),
        "interval_stats=": lambda: ij(tier_threshold=None, stats=st_flat),
        "interval_stats=_tiered": lambda: ij(tier_threshold=1, stats=st),
        "overlap_plain": lambda: oj(bucket_width=20, tier_threshold=None),
        "overlap_manual": lambda: oj(bucket_width=1 << 20),
        "overlap_auto": lambda: oj(tier_threshold=1 << 60),
        "overlap_tiered": lambda: oj(bucket_width=25, tier_threshold=1),
        "overlap_stats_flat": lambda: interval_overlap_stats(
            idf, rdf, "s", "e", "rs", "re", tier_threshold=None
        ),
        "overlap_stats_tiered": lambda: interval_overlap_stats(
            idf, rdf, "s", "e", "rs", "re", tier_threshold=1
        ),
        "overlap_stats=": lambda: oj(tier_threshold=None, stats=ost_flat),
        "overlap_stats=_tiered": lambda: oj(tier_threshold=1, stats=ost),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"temporal-plan-{name}", name)
            call()
            jobs[name] = len(tracker.getJobIdsForGroup(f"temporal-plan-{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs.keys() == _PLANNING_JOBS.keys()
    over = {k: (n, _PLANNING_JOBS[k]) for k, n in jobs.items() if n > _PLANNING_JOBS[k]}
    assert not over, over
    assert all(n == 0 for k, n in jobs.items() if "stats=" in k), jobs


@pytest.mark.parametrize("width", [-7, 0])
def test_bad_bucket_width_rejected_before_any_job(spark, width):
    """Every temporal operator rejects a non-positive explicit
    ``bucket_width`` at call time, before it runs a Spark job."""
    from pyramidscheme_jl_spark.operators.temporal import (
        interval_join,
        interval_overlap_join,
        interval_overlap_stats,
        interval_stats,
        sessionize,
    )

    ev, q, idf, pdf, rdf = _temporal_fixtures(spark)
    calls = {
        "asof": lambda: asof_join(ev, q, on="t", by="user", bucket_width=width),
        "asof_nearest": lambda: asof_join(
            ev, q, on="t", by="user", bucket_width=width, direction="nearest"
        ),
        "sessionize": lambda: sessionize(ev, "user", "t", gap=30, bucket_width=width),
        "interval_join": lambda: interval_join(idf, pdf, "s", "e", "t", bucket_width=width),
        "interval_overlap_join": lambda: interval_overlap_join(
            idf, rdf, "s", "e", "rs", "re", bucket_width=width
        ),
        "interval_stats": lambda: interval_stats(idf, "s", "e", bucket_width=width),
        "interval_overlap_stats": lambda: interval_overlap_stats(
            idf, rdf, "s", "e", "rs", "re", bucket_width=width
        ),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"temporal-bad-width-{name}", name)
            with pytest.raises(ValueError, match="bucket_width must be positive"):
                call()
            jobs[name] = len(tracker.getJobIdsForGroup(f"temporal-bad-width-{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not any(jobs.values()), jobs
