"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR plus the two
north-rule throughput numbers (pyramid-build tiles/sec, point-in-polygon
join rows/sec) on deterministic synthetic data.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "tiles_per_sec": ..., "pip_rows_per_sec": ..., "cpus": ...}

Scaling evidence (local[8] vs local[32]) lives in tools/scaling_bench.py ->
BENCH/BASELINE.md; this script is the single-config per-round loop.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the rounds-2..5 headline set — kept as a named subtotal
# (value_r5_queries) so round-over-round totals stay comparable
HEADLINE = [
    "block_agg_mean",
    "block_agg_mode",
    "block_agg_median",
    "rollup_multilevel",
    "bbox_join",
    "bbox_join_cells",
    "zonal_agg",
    "pip_zonal",
    "knn",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_lsh",
    "simhash",
    "text_quality",
    "fingerprint",
    "embedding_topk",
    "embedding_lsh_buckets",
    "embedding_ivf_topk",
    "bpe_tokens",
]

# round 6 (VERDICT r5 #2): every remaining oracle query gets a latency row
# so a regression anywhere in the surface is visible next round. The
# oracle's own `pip_join` runs as `pip_join_sf` — the bare `pip_join` key
# has recorded the synthetic-lattice throughput region since round 1.
EXTRA = [
    "block_agg_mean_t",
    "block_agg_minmax",
    "recursive_mean_consistency",
    "selectlevel_window",
    "language_id",
    "token_stats",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "embedding_lsh_topk_all",
    "events_asof_click",
    "events_time_rollup",
    "events_topk",
    "union_cat",
    "cosine_near_dup",
    "hamming_near_dup",
    "rasterize_stats",
    "dedup_components",
    "pip_join_mp",
    "rasterize_mp",
]

# fixture-building rows (streamed pyramids / the zonal built pyramid)
# memoize a /dev/shm dataset on first call; one untimed call absorbs
# fixture creation, the timed call measures the query
STREAMED = ["streamed_pyramid_stats", "streamed_cube_stats", "zonal_raster", "raster_extract", "zonal_cube_stats", "zonal_raster_mp", "focal_mean_extract"]

#: auto-rep threshold (VERDICT r5 #1): any query slower than 1.5x its
#: previous-round number re-runs once and records both reps — drift like
#: r5's bpe_tokens 1.52->2.86 s self-adjudicates inside the same JSON
REP_TRIGGER = 1.5


def _prev_round_queries() -> dict[str, float]:
    """Per-query seconds from the newest committed BENCH_r*.json (the
    driver writes one per round next to this script)."""
    import glob
    import re

    best: dict[str, float] = {}
    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if not paths:
        return best
    try:
        with open(paths[-1]) as f:
            doc = json.load(f)
        # a round whose artifact failed to parse stores parsed: null —
        # walk back to the newest round that has real per-query numbers
        for p in reversed(paths):
            with open(p) as f:
                doc = json.load(f)
            qs = (doc.get("parsed") or {}).get("queries") or {}
            if qs:
                return dict(qs)
        return best
    except (OSError, ValueError):
        return best


def _noop_write(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _cpu_times():
    """(steal_jiffies, total_jiffies) from /proc/stat — per-rep host-noise
    evidence (this box shows 0-18% CPU steal; BENCH/BASELINE.md)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _steal_pct(before, after) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return round(100.0 * ds / dt, 2) if dt > 0 else 0.0


class _StealMeter:
    """Wrap each timed region; accumulates a per-name steal%% dict."""

    def __init__(self):
        self.pcts: dict[str, float] = {}
        self._t0 = None

    def start(self):
        self._t0 = _cpu_times()

    def stop(self, name: str):
        self.pcts[name] = _steal_pct(self._t0, _cpu_times())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyramidscheme_jl_spark.session import get_spark, local_cpus

    cpus = local_cpus()
    bench_g = int(os.environ.get("SPARK_GRAFT_BENCH_G", "64"))
    pip_side = int(os.environ.get("SPARK_GRAFT_BENCH_PIP_SIDE", "512"))

    import __spark_entry__ as E
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.operators.joins import (
        point_in_polygon_join,
        with_point_cells,
    )
    from pyramidscheme_jl_spark.sources.synth import (
        IMAGES_DDL,
        POINTS_DDL,
        synth_images,
        synth_points,
        synth_polygons,
    )

    import pandas as pd

    def _warm(batches):
        from pyramidscheme_jl_spark.functions.codec import decode_tile  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"x": [len(pdf)]})

    def _session(app: str, task_cpus: int = 1):
        # warm the Python-worker pool with a package-touching UDF so timings
        # measure steady-state throughput, not the one-time fork+import storm
        s = get_spark(
            app=app,
            master=f"local[{cpus}]",
            extra_conf={"spark.task.cpus": str(task_cpus)} if task_cpus > 1 else None,
        )
        s.sparkContext.setLogLevel("ERROR")
        s.range(0, cpus * 2, 1, cpus).mapInPandas(_warm, "x long").count()
        return s

    # The build is a JVM-thread + python-worker pipeline per task: at
    # task.cpus=1 a local[32] run keeps 64+ hot threads on 32 vCPUs and
    # collapses on kernel contention (2-3x; measured, BENCH/SCALING.md's
    # oversubscription table). task.cpus=2 caps hot threads at vCPUs —
    # the provisioning a real multi-executor cluster gets by construction
    # — so the build phase runs in its own capped session. The PIP join
    # and SQL queries are short JVM-dominated bursts that measure best at
    # full task concurrency; they get a fresh task.cpus=1 session below.
    spark = _session("bench-build", task_cpus=2 if cpus >= 16 else 1)

    timings: dict[str, float] = {}
    total = 0.0

    # pyramid build throughput: G x G mosaic of 256^2 tiles. Skew note: the
    # build's groupBy keys are unique tile addresses and the PIP join is
    # broadcast+narrow (fact side never shuffles), so dense-cell hotspots
    # cannot create hot shuffle partitions in either measured path;
    # salted_repartition covers the remaining per-key-heavy cases (tested).
    build_reps = int(os.environ.get("SPARK_GRAFT_BUILD_REPS", "3"))
    steal = _StealMeter()
    tmp = tempfile.mkdtemp(prefix="bench_pyr_")
    try:
        rows = synth_images(G=bench_g)
        images = spark.createDataFrame(rows, IMAGES_DDL).repartition(cpus).cache()
        n_base = images.count()
        # best-of-N: the shared host shows 2-4x run-to-run variance
        # (BENCH/BASELINE.md); the repeated job is identical and each rep
        # rebuilds from scratch into a fresh dir, so min = least-interfered
        dts = []
        rep_steal = []
        for rep in range(build_reps):
            steal.start()
            t0 = time.perf_counter()
            # materialize_base=False == reference buildpyramids semantics
            # (levels only, base never copied) — the honest 100 TB config.
            # level_dtype=float32 is the production mean-level dtype (halves
            # level bytes vs float64; the build is level-byte disk-bound on
            # this host — see BENCH/BASELINE.md limiter analysis).
            spec = build_pyramid(
                spark, images, f"{tmp}/pyr{rep}", G=bench_g, reducer="mean",
                run_id="bench", materialize_base=False, level_dtype="float32",
            )
            dts.append(time.perf_counter() - t0)
            steal.stop(f"build_rep{rep}")
            rep_steal.append(steal.pcts[f"build_rep{rep}"])
        dt_build = min(dts)
        # tiles *written* (levels 1..n; base stays the input table)
        n_tiles = sum(
            ((bench_g + (1 << z) - 1) // (1 << z)) ** 2 for z in range(1, spec.nlevels + 1)
        )
        timings["pyramid_build"] = round(dt_build, 3)
        total += dt_build
        tiles_per_sec = n_tiles / dt_build
        base_px_per_sec = n_base * 256 * 256 / dt_build

        # read_window (VERDICT r5 #8): the signature interactive query —
        # the invariant that makes the pyramid worth building is that a
        # viewport read touches ONE level and a handful of row-group-pruned
        # tiles, so it must stay tens-of-ms regardless of corpus size.
        # Timed on the pyramid the build reps just wrote (best-of-3).
        from pyramidscheme_jl_spark.api import PyramidDataset

        pyr = PyramidDataset.open(spark, f"{tmp}/pyr{build_reps - 1}")
        world = bench_g * 256.0
        read_window_reps = []
        for rep in range(3):
            steal.start()
            t0 = time.perf_counter()
            w = pyr.read_window((0.0, 0.0, world / 4, world / 4), (256, 256))
            read_window_reps.append(round(time.perf_counter() - t0, 3))
            steal.stop(f"read_window_rep{rep}")
            assert w["data"].shape == (256, 256)
        timings["read_window"] = min(read_window_reps)
        total += timings["read_window"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    images.unpersist()
    spark.stop()

    spark = _session("bench")  # PIP + queries: fresh task.cpus=1 session
    qs = E.queries()

    # warm the fresh JVM before ANY timed query: the r3 bench introduced
    # this mid-bench restart and every query ran 1.05-2.2x slower on the
    # cold JVM (no JIT-compiled codegen paths, cold parquet footers, cold
    # broadcast machinery). One untimed representative query restores the
    # steady-state the single-session r2 protocol measured.
    # embedding_ivf_topk is included so its first-use constants (python
    # worker fan-out for the Arrow matmul assign — the round-5 A/B winner
    # over the unrolled expr, BENCH/IVF_ASSIGN_AB.md — plus broadcast
    # machinery) land in the untimed warmup; the timed run measures the
    # steady-state plan.
    t0 = time.perf_counter()
    _noop_write(qs["block_agg_mean"](spark, sf_dir))
    _noop_write(qs["embedding_topk"](spark, sf_dir))
    _noop_write(qs["embedding_ivf_topk"](spark, sf_dir))
    warmup_sec = round(time.perf_counter() - t0, 3)

    # spatial-join throughput: PIP over a dense lattice + skew hotspot corner
    world = 1024.0
    pts_rows = synth_points(world, n_side=pip_side)
    pts = spark.createDataFrame(
        [(r["point_id"], r["x"], r["y"]) for r in pts_rows], POINTS_DDL
    )
    pts = with_point_cells(pts.repartition(cpus), 6, world).cache()
    n_pts = pts.count()
    polys = synth_polygons(world)
    steal.start()
    t0 = time.perf_counter()
    n_pairs = point_in_polygon_join(spark, pts, polys, 6, world).count()
    dt_pip = time.perf_counter() - t0
    steal.stop("pip_join")
    timings["pip_join"] = round(dt_pip, 3)
    total += dt_pip
    pts.unpersist()
    spark.catalog.clearCache()

    # multimodal codec throughput: REAL jpeg decode + feature extraction
    # over a small corpus (the per-row cost driver for encoded corpora;
    # scaling curve in BENCH/CODEC_SCALING.md — this records the absolute
    # rate at the bench config each round)
    from pyramidscheme_jl_spark.operators.multimodal import image_features

    def _to_jpeg(batches):
        import numpy as _np

        from pyramidscheme_jl_spark.functions.jpeg import encode_jpeg

        for pdf in batches:
            out = pdf.copy()
            out["bytes"] = [
                encode_jpeg(
                    _np.frombuffer(b, dtype=_np.uint8).reshape(int(hh), int(ww)),
                    quality=90,
                )
                for b, ww, hh in zip(pdf["bytes"], pdf["w"], pdf["h"])
            ]
            out["fmt"] = "jpeg"
            yield out

    jpegs = (
        spark.createDataFrame(synth_images(G=16), IMAGES_DDL)
        .repartition(cpus)
        .mapInPandas(_to_jpeg, IMAGES_DDL)
        .cache()
    )
    n_jpegs = jpegs.count()  # encode (prep) excluded from the timing
    # best-of-3 reps with per-rep steal%, the same self-adjudicating
    # treatment the build region got (VERDICT r4 #5: the r4 driver run's
    # jpeg number fell inside a 10.5%-steal window and could only be
    # dismissed by an out-of-band control run)
    codec_reps: list[float] = []
    for rep in range(3):
        steal.start()
        t0 = time.perf_counter()
        assert image_features(jpegs).count() == n_jpegs
        codec_reps.append(round(time.perf_counter() - t0, 3))
        steal.stop(f"jpeg_rep{rep}")
    dt_codec = min(codec_reps)
    jpegs.unpersist()

    # streaming-ingest throughput: one availableNow micro-batch through the
    # executor-side file-per-tile path (base write + ancestor patches);
    # tiles/sec counts every tile file landed across all levels
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    ing_g = int(os.environ.get("SPARK_GRAFT_BENCH_INGEST_G", "8"))
    ing_src = tempfile.mkdtemp(prefix="bench_ing_src_")
    ing_dst = tempfile.mkdtemp(prefix="bench_ing_dst_")
    try:
        spark.createDataFrame(synth_images(G=ing_g), IMAGES_DDL).repartition(
            cpus
        ).write.mode("overwrite").parquet(f"{ing_src}/b0")
        steal.start()
        t0 = time.perf_counter()
        q = ingest_images(spark, f"{ing_src}/*", f"{ing_dst}/pyr", G=ing_g)
        ingest_done = q.awaitTermination(600)
        dt_ingest = time.perf_counter() - t0
        steal.stop("streaming_ingest")
        if not ingest_done:
            # timed out: stop the stream before cleanup so it can't race
            # the rmtree or pollute the timed headline queries; the JSON
            # marks the number invalid rather than recording ~600 s as real
            q.stop()
            dt_ingest = -1.0  # sentinel: rate fields become -N, clearly bogus
        n_ing_tiles = sum(
            ((ing_g + (1 << z) - 1) // (1 << z)) ** 2
            for z in range(0, ing_g.bit_length())
        )
    finally:
        shutil.rmtree(ing_src, ignore_errors=True)
        shutil.rmtree(ing_dst, ignore_errors=True)

    # kNN skew control (VERDICT r4 #6): identical-size corpora, one
    # uniform and one with half its points packed into a single grid
    # cell (the hot-cell salting trigger); the criterion is the skewed
    # run staying within 1.5x of the uniform run.
    import numpy as _np

    from pyramidscheme_jl_spark.operators.joins import knn_join
    from pyramidscheme_jl_spark.sources.synth import POINTS_DDL

    knn_world, knn_res, knn_n = 1024.0, 5, 4096
    rng = _np.random.RandomState(5)
    uni = [
        (f"u-{i:05d}", float((i % 64) * 16 + 8.3), float((i // 64) * 16 + 7.7))
        for i in range(knn_n)
    ]
    hot_n = knn_n // 2
    hx, hy = 32.0 * rng.rand(hot_n) + 512.0, 32.0 * rng.rand(hot_n) + 512.0
    # skew corpus keeps FULL world coverage at half density (every other
    # lattice point) + one packed cell — isolating JOIN-KEY skew from the
    # sparse-coverage effect (a half-empty world just measures ring growth)
    skew = uni[::2] + [(f"h-{i:05d}", float(hx[i]), float(hy[i])) for i in range(hot_n)]
    knn_qs = spark.createDataFrame(
        [(f"q-{i:04d}", float(rng.rand() * knn_world), float(rng.rand() * knn_world))
         for i in range(256)]
        + [(f"qh-{i:03d}", float(512.0 + 32 * rng.rand()), float(512.0 + 32 * rng.rand()))
           for i in range(64)],
        POINTS_DDL,
    )
    knn_qs = knn_qs.localCheckpoint(eager=True)  # fixed input, not re-sampled
    # recorded as CONTROLS, not headline queries: `value` stays the sum of
    # the same query set as rounds 2-4 (round-over-round comparability)
    knn_controls: dict[str, float] = {}
    for tag, pts_rows_knn in (("knn_uniform_synth", uni), ("knn_skew_synth", skew)):
        pts_df = spark.createDataFrame(pts_rows_knn, POINTS_DDL).localCheckpoint(
            eager=True
        )
        steal.start()
        t0 = time.perf_counter()
        _noop_write(knn_join(spark, knn_qs, pts_df, k=5, res=knn_res, world=knn_world))
        knn_controls[tag] = round(time.perf_counter() - t0, 3)
        steal.stop(tag)

    # raster_extract skew control (VERDICT r6 #2): same point count, one
    # run spread over every tile of the zonal fixture vs one run with all
    # points packed into a single tile (hot cell -> salted sub-buckets).
    # The ratio is the skew tax after salting; recorded as controls.
    from pyramidscheme_jl_spark.operators.joins import raster_extract

    ex_path = E._ensure_zonal_pyramid(spark)
    ex_n = 131072
    ex_uni = spark.range(ex_n).selectExpr(
        "concat('u-', id) AS point_id",
        "CAST(pmod(id * 2654435761, 512) AS DOUBLE) + 0.5 AS x",
        "CAST(pmod(id * 40503, 512) AS DOUBLE) + 0.5 AS y",
    ).localCheckpoint(eager=True)
    ex_hot = spark.range(ex_n).selectExpr(
        "concat('h-', id) AS point_id",
        "CAST(pmod(id * 2654435761, 128) AS DOUBLE) + 0.5 AS x",
        "CAST(pmod(id * 40503, 128) AS DOUBLE) + 0.5 AS y",
    ).localCheckpoint(eager=True)
    extract_controls: dict[str, float] = {}
    for tag, pts_df in (("extract_uniform_synth", ex_uni), ("extract_hot_synth", ex_hot)):
        steal.start()
        t0 = time.perf_counter()
        _noop_write(raster_extract(spark, ex_path, pts_df, z=0))
        extract_controls[tag] = round(time.perf_counter() - t0, 3)
        steal.stop(tag)

    # relational queries last (they leave cached token sets etc.; the
    # build ran on pristine JVM state matching its standalone profile)
    def _run_query(name: str, fn) -> float:
        steal.start()
        t0 = time.perf_counter()
        _noop_write(fn(spark, sf_dir))
        dt = time.perf_counter() - t0
        steal.stop(name)
        return round(dt, 3)

    # r7: EXTRA is a floor, not a ceiling — any queries() entry not
    # already covered by a named region gets a latency row automatically,
    # so a new oracle op can never silently ship unbenched
    covered = set(HEADLINE) | set(EXTRA) | set(STREAMED) | {"pip_join"}
    auto_extra = sorted(name for name in qs if name not in covered)
    for name in HEADLINE + EXTRA + auto_extra:
        timings[name] = _run_query(name, qs[name])
        total += timings[name]
    # the oracle's own pip_join (sf-dir parquet) — bare pip_join is the
    # synthetic throughput region above
    timings["pip_join_sf"] = _run_query("pip_join_sf", qs["pip_join"])
    total += timings["pip_join_sf"]
    for name in STREAMED:
        _noop_write(qs[name](spark, sf_dir))  # untimed: memoizes the fixture
        timings[name] = _run_query(name, qs[name])
        total += timings[name]

    # auto-rep (VERDICT r5 #1): any query >1.5x its previous-round number
    # gets a second rep; min wins, both land in the JSON with fresh steal%
    prev = _prev_round_queries()
    query_reps: dict[str, list[float]] = {}
    rerun_names = {"pip_join_sf": "pip_join", **{n: n for n in HEADLINE + EXTRA + STREAMED}}
    for name, qname in rerun_names.items():
        t1 = timings.get(name)
        p = prev.get(name)
        if t1 is None or not p or p <= 0 or t1 <= REP_TRIGGER * p:
            continue
        steal.start()
        t0 = time.perf_counter()
        _noop_write(qs[qname](spark, sf_dir))
        t2 = round(time.perf_counter() - t0, 3)
        steal.stop(f"{name}_rep1")
        query_reps[name] = [t1, t2]
        total += min(t2, t1) - t1  # total reflects the adjudicated number
        timings[name] = min(t1, t2)

    full = {
        "metric": "pyramid-build tiles/sec + spatial-join rows/sec + full oracle-query latencies",
        "value": round(total, 3),
        "unit": "sec",
        # rounds 2-5 timed only HEADLINE; this subtotal is the
        # apples-to-apples number vs BENCH_r{2..5}.json's `value`
        "value_r5_queries": round(
            timings["pyramid_build"] + timings["pip_join"]
            + sum(timings[n] for n in HEADLINE), 3,
        ),
        "queries": timings,
        "query_reps": query_reps,
        "read_window_reps_sec": read_window_reps,
        "sf": sf_dir,
        "cpus": cpus,
        "tiles_per_sec": round(tiles_per_sec, 1),
        "base_px_per_sec": round(base_px_per_sec, 1),
        "build_reps_sec": [round(d, 3) for d in dts],  # best-of shown above
        "build_reps_steal_pct": rep_steal,
        "steal_pct": steal.pcts,
        "query_warmup_sec": warmup_sec,
        "pip_points": n_pts,
        "pip_pairs": n_pairs,
        "pip_rows_per_sec": round(n_pts / dt_pip, 1),
        "ingest_tiles": n_ing_tiles,
        "ingest_sec": round(dt_ingest, 3),
        "ingest_tiles_per_sec": round(n_ing_tiles / dt_ingest, 1),
        "jpeg_images": n_jpegs,
        "jpeg_decode_px_per_sec": round(n_jpegs * 65536 / dt_codec, 1),
        "jpeg_decode_imgs_per_sec": round(n_jpegs / dt_codec, 1),
        "jpeg_reps_sec": codec_reps,
        "knn_controls": knn_controls,
        "knn_skew_over_uniform": round(
            knn_controls["knn_skew_synth"]
            / max(knn_controls["knn_uniform_synth"], 1e-9),
            3,
        ),
        "extract_controls": extract_controls,
        "extract_hot_over_uniform": round(
            extract_controls["extract_hot_synth"]
            / max(extract_controls["extract_uniform_synth"], 1e-9),
            3,
        ),
    }
    # Full telemetry (steal%, reps, controls) goes to a file; the driver
    # captures only a ~2000-char stdout tail, which the full dict outgrew
    # in round 6 (BENCH_r06.json came back `parsed: null`). The final
    # stdout line is a compact dict guaranteed to fit that window.
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_bench_full.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f)
    compact = {
        "metric": "oracle-suite sec (full telemetry: BENCH/last_bench_full.json)",
        "value": full["value"],
        "unit": "sec",
        "value_r5_queries": full["value_r5_queries"],
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf_dir,
        "cpus": cpus,
        "tiles_per_sec": full["tiles_per_sec"],
        "base_px_per_sec": full["base_px_per_sec"],
        "pip_rows_per_sec": full["pip_rows_per_sec"],
        "ingest_tiles_per_sec": full["ingest_tiles_per_sec"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900:  # never outgrow the driver's tail window again
        # drop the longest-named query rows first; their full values
        # remain in BENCH/last_bench_full.json
        victim = max(compact["queries"], key=len)
        del compact["queries"][victim]
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
