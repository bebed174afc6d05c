"""The workloads: seeded, closed-loop, one client against one session.

Each workload sets up its fixtures (untimed, one warm-up op included),
then runs ops back to back until the run's time is up. Every op's output
is checked against an oracle; an op that raises, times out or fails its
oracle counts as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import numpy as np

from . import fixtures, oracles
from .eventlog import EventLog
from .harness import Workdir, nproc, tree_cpu_s
from .stats import median
from .trace import Tracer


@dataclass
class Op:
    kind: str
    seconds: float
    window_ms: tuple[int, int]  # epoch ms, the event log's clock
    ok: bool
    work: float
    cpu_s: float = 0.0  # process-tree CPU seconds


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    #: op kind whose windows the Spark metrics are averaged over
    primary = ""
    #: op kind whose median cost is the op metric, and the kind whose
    #: work per median cost is the throughput metric
    latency_kind = ""
    work_kind = ""

    def __init__(self, spark, work: Workdir, seed: int, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[Op] = []
        self.stored_ratio: list[float] = []

    # -- running -------------------------------------------------------------

    def timed(self, kind: str, fn, check=None, work: float = 0.0):
        """Run one op; returns its output, or None when it failed."""
        if self.tracer is not None:
            self.tracer.begin_op(len(self.ops))
        c0 = tree_cpu_s()
        e0 = time.time()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        finally:
            dt = time.perf_counter() - t0
            e1 = time.time()
            cpu = tree_cpu_s() - c0
            if self.tracer is not None:
                self.tracer.end_op()
        if ok and check is not None:
            try:
                check(out)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        self.ops.append(Op(kind, dt, (math.floor(e0 * 1e3), math.ceil(e1 * 1e3)), ok, work if ok else 0.0, cpu))
        return out if ok else None

    def reset(self) -> None:
        """Forget the warm-up: the timed phase starts from here."""
        print("  warm-up seconds: " + " ".join(f"{o.kind} {o.seconds:.3f}" for o in self.ops),
              file=sys.stderr)
        self.ops.clear()
        self.stored_ratio.clear()
        if self.tracer is not None:
            self.tracer.spans.clear()

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> bool:
        """Run one op (or one cycle of ops); False stops the run early."""
        raise NotImplementedError

    def install_spans(self, tracer: Tracer) -> None:
        """Wrap the package functions this workload calls."""

    def close(self) -> None:
        pass

    # -- results -------------------------------------------------------------

    def of(self, kind: str, ok_only: bool = True) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and (o.ok or not ok_only)]

    def latencies(self) -> list[float]:
        """Wall seconds of each successful latency op."""
        return [o.seconds for o in self.of(self.latency_kind)]

    def _summary(self, cost: str, op_name: str, work_name: str) -> dict[str, float]:
        """Median ``cost`` (``seconds`` or ``cpu_s``) of the latency ops, in
        ms, and work per median cost of the work ops (whose ops all do the
        same work). A metric with no successful op is left out."""
        out = {}
        lat = [getattr(o, cost) for o in self.of(self.latency_kind)]
        if lat:
            out[op_name] = median(lat) * 1e3
        wk = self.of(self.work_kind)
        if wk and median([getattr(o, cost) for o in wk]) > 0:
            out[work_name] = wk[0].work / median([getattr(o, cost) for o in wk])
        return out

    def end_to_end(self) -> dict[str, float]:
        """CPU cost of the whole process tree (driver, JVM, Python workers):
        ``op_cpu_p50_ms`` and ``work_per_cpu_s``."""
        return self._summary("cpu_s", "op_cpu_p50_ms", "work_per_cpu_s")

    def wall(self) -> dict[str, float]:
        """The same on the wall clock: ``op_p50_ms`` and ``work_per_s``."""
        return self._summary("seconds", "op_p50_ms", "work_per_s")

    def primary_windows(self) -> list[tuple[int, int]]:
        return [o.window_ms for o in self.of(self.primary)]

    def span_sum(self, name: str, kind: str, use_self: bool = False) -> float:
        """Summed duration (or self time) of spans named ``name`` recorded
        under ops of ``kind``, divided by the number of those ops."""
        ops = {i for i, o in enumerate(self.ops) if o.kind == kind and o.ok}
        if not ops:
            return 0.0
        tot = sum(
            st if use_self else s.duration
            for s, st in self._spans().get(name, [])
            if s.op in ops
        )
        return tot / len(ops)

    def span_count(self, name: str, kind: str) -> float:
        ops = {i for i, o in enumerate(self.ops) if o.kind == kind and o.ok}
        n = sum(1 for s, _ in self._spans().get(name, []) if s.op in ops)
        return n / len(ops) if ops else 0.0

    def _spans(self):
        if not hasattr(self, "_span_cache"):
            self._span_cache = self.tracer.by_name()
        return self._span_cache

    def layer_metrics(self, ev: EventLog) -> dict[str, float]:
        return {}

    def per_layer(self, ev: EventLog, session_s: float, steal: float) -> dict[str, float]:
        s = ev.summary(self.primary_windows())
        m = {
            "session.start_s": session_s,
            "host.steal_pct": steal,
            "spark.jobs_per_op": s["jobs"],
            "spark.stages_per_op": s["stages"],
            "driver.outside_jobs_s": s["outside_jobs_s"],
        }
        for k in ("task_run_s", "task_cpu_s", "task_wait_s", "task_skew", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "input_bytes", "output_bytes", "python_run_s", "python_boot_s",
                  "python_bytes_sent", "python_bytes_received"):
            m[f"spark.{k}"] = s[k]
        m.update({f"traced.{k}": v for k, v in {**self.end_to_end(), **self.wall()}.items()})
        m.update(self.layer_metrics(ev))
        return m

    def largest_self_time(self) -> tuple[str, float]:
        """(span name, seconds per primary op) with the largest self time."""
        n = max(1, len(self.of(self.primary)))
        tot = {name: sum(st for _, st in v) / n for name, v in self._spans().items()}
        return max(tot.items(), key=lambda kv: kv[1], default=("none", 0.0))


# ---------------------------------------------------------------------------
# build: one build_pyramid per op
# ---------------------------------------------------------------------------


class Build(Workload):
    """The op is one build. ``work_per_cpu_s``: level tiles written per
    CPU second of the median build."""

    name = "build"
    primary = latency_kind = work_kind = "build"
    G = 32

    def setup(self) -> None:
        from pyramidscheme_jl_spark.plans.grid import compute_nlevels

        G = self.G
        self.offs, order = fixtures.build_inputs(self.seed, G)
        d = self.work.sub("images")
        fixtures.publish_images(d, "images.parquet", order, self.offs.ravel()[order])
        self.images = self.spark.read.parquet(d).repartition(nproc()).cache()
        self.images.count()
        self.nlevels = compute_nlevels((G * fixtures.TILE, G * fixtures.TILE))
        self.tiles = sum((-(-G // (1 << z))) ** 2 for z in range(1, self.nlevels + 1))
        self.bm = oracles.BlockMeans()
        self.expected: dict = {}
        # warm-up: build cost keeps falling over the first three builds
        # while the JVM compiles the build's hot paths
        for _ in range(3):
            self.step()

    def step(self) -> bool:
        from pyramidscheme_jl_spark.operators.build import build_pyramid

        path = os.path.join(self.work.root, "build", f"op{len(self.ops)}")
        self.timed(
            "build",
            lambda: build_pyramid(
                self.spark, self.images, path, G=self.G, reducer="mean", run_id="bench",
                materialize_base=False, level_dtype="float32",
            ),
            check=lambda _: oracles.check_build(path, self.offs, self.bm, self.nlevels, self.expected),
            work=self.tiles,
        )
        if self.ops[-1].ok:
            self.stored_ratio.append(dir_bytes(path) / (self.G * self.G * fixtures.TILE ** 2))
        shutil.rmtree(path, ignore_errors=True)
        return True

    def install_spans(self, tracer: Tracer) -> None:
        tracer.wrap("operators.build", "build_pyramid", "build.build_pyramid")
        tracer.wrap("operators.build", "audit_unsupported_images", "build.audit")
        tracer.wrap("operators.build", "build_tail_driver", "build.tail")
        tracer.wrap("sources.catalog", "write_levels_fused", "build.fused_pass")
        tracer.wrap("sources.catalog", "write_level_driver", "catalog.write_level_driver")
        tracer.wrap("sources.catalog", "append_manifest", "catalog.manifest_append")
        tracer.wrap("sources.catalog", "manifest_lineage", "catalog.manifest_lineage")

    def layer_metrics(self, ev: EventLog) -> dict[str, float]:
        k = "build"
        return {
            "operators.build.audit_s": self.span_sum("build.audit", k),
            "operators.build.fused_pass_s": self.span_sum("build.fused_pass", k),
            "operators.build.fused_passes": self.span_count("build.fused_pass", k),
            "operators.build.tail_s": self.span_sum("build.tail", k),
            "operators.build.self_s": self.span_sum("build.build_pyramid", k, use_self=True),
            "sources.catalog.write_level_driver_s": self.span_sum("catalog.write_level_driver", k),
            "sources.catalog.manifest_append_s": self.span_sum("catalog.manifest_append", k)
            + self.span_sum("catalog.manifest_lineage", k),
            "sources.catalog.manifest_appends": self.span_count("catalog.manifest_append", k),
            "sources.catalog.stored_bytes_per_base_byte": median(self.stored_ratio) if self.stored_ratio else 0.0,
        }

    def close(self) -> None:
        self.images.unpersist()


# ---------------------------------------------------------------------------
# ingest_mixed: a long-running stream with reads beside the writes
# ---------------------------------------------------------------------------


class IngestMixed(Workload):
    """Each cycle drops one micro-batch file that overwrites ``BATCH`` seeded
    slots, one under each level-1 tile, waits for it to be processed, then
    reads one non-overlapping tile-aligned window per zoom in ``ZOOMS`` and
    checks them against a last-writer-wins model of the mosaic. The
    latency op is the ``read_window`` beside the writes. ``work_per_cpu_s``:
    images per CPU second of the median batch (file drop to
    ``processAllAvailable()`` return); every batch includes an in-stream
    compaction."""

    name = "ingest_mixed"
    primary = "cycle"
    latency_kind = "read"
    work_kind = "batch"
    G = 16
    BATCH = (G // 2) ** 2
    #: read zooms per cycle: levels 0 to 2 of the G=16 pyramid, 4 x 2
    #: tiles per read; five reads so a run has enough samples for a
    #: steady median
    ZOOMS = (1.0, 1.0, 2.0, 2.0, 4.0)
    #: every micro-batch pushes the level past this, so in-stream
    #: compaction runs once per batch, several times per run
    MAX_DELTA_FILES = 1
    BATCH_TIMEOUT_S = 60.0

    def setup(self) -> None:
        from pyramidscheme_jl_spark.api import PyramidDataset
        from pyramidscheme_jl_spark.plans.grid import compute_nlevels
        from pyramidscheme_jl_spark.streaming.ingest import ingest_images

        G = self.G
        initial, self.trace = fixtures.ingest_trace(self.seed, G, 400, self.ZOOMS)
        self.offs = initial.copy()
        self.src = self.work.sub("ingest_src")
        self.dst = os.path.join(self.work.root, "ingest_pyramid")
        fixtures.publish_images(self.src, "00000.parquet", range(G * G), initial.ravel())
        self.q = ingest_images(
            self.spark, self.src, self.dst, G=G, available_now=False,
            max_files_per_trigger=1, max_delta_files=self.MAX_DELTA_FILES,
            checkpoint_dir=os.path.join(self.work.root, "ingest_checkpoint"),
        )
        self.wait_batch()
        self.pyr = PyramidDataset.open(self.spark, self.dst)
        self.nlevels = compute_nlevels((G * fixtures.TILE, G * fixtures.TILE))
        self.bm = oracles.BlockMeans()
        for z in range(self.nlevels + 1):
            self.bm.table(z)
        self.cycle = 0
        self.batch_ids: list[int] = []
        self.delta_files: list[int] = []
        # warm-up: the first batches and reads are slow while the JVM
        # compiles the ingest and read paths, so two cycles run untimed
        for _ in range(2):
            self.step()

    def wait_batch(self) -> None:
        """``processAllAvailable`` with a timeout; a stuck stream is stopped."""
        err: list[BaseException] = []

        def run():
            try:
                self.q.processAllAvailable()
            except BaseException as e:  # re-raised on the calling thread
                err.append(e)

        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(self.BATCH_TIMEOUT_S)
        if th.is_alive():
            self.q.stop()
            th.join(30)
            raise TimeoutError(f"micro-batch not processed within {self.BATCH_TIMEOUT_S} s")
        if err:
            raise err[0]

    def step(self) -> bool:
        slots, offs, extents = self.trace[self.cycle % len(self.trace)]
        self.cycle += 1
        fixtures.publish_images(self.src, f"{self.cycle:05d}.parquet", slots, offs)
        e0 = time.time()
        self.timed("batch", self.wait_batch, work=self.BATCH)
        if not self.ops[-1].ok:
            return False  # the stream is stopped; no further op can run
        self.batch_ids.append(self.q.lastProgress["batchId"])
        self.offs.ravel()[slots] = offs  # last writer wins
        for ext in extents:
            if self.tracer is not None:
                self.delta_files.append(len(self._deltas()))
            self.timed(
                "read",
                lambda: self.pyr.read_window(ext),
                check=lambda r: oracles.check_window(r, ext, self.offs, self.bm, self.nlevels),
            )
        self.ops.append(Op("cycle", time.time() - e0, (math.floor(e0 * 1e3), math.ceil(time.time() * 1e3)), True, 0.0))
        return True

    def _deltas(self) -> list[str]:
        d = os.path.join(self.dst, "tiles", "z=0")
        return [f for f in os.listdir(d) if f.startswith("delta-") and f.endswith(".parquet")]

    def install_spans(self, tracer: Tracer) -> None:
        from pyramidscheme_jl_spark.plans.grid import compute_nlevels

        n = compute_nlevels((self.G * fixtures.TILE, self.G * fixtures.TILE))

        def landed(args, kwargs, out):
            keys = out[0]
            return {"tiles": len(keys) + sum(
                len({(tx >> z, ty >> z) for tx, ty in keys}) for z in range(1, n + 1)
            )}

        def compacted(args, kwargs, out):
            path, z, ordinal = args[1], args[2], args[3]
            d = os.path.join(path, "tiles", f"z={z}")
            return {"compacted": any(f.startswith(f"delta-b{ordinal:08d}-m") for f in os.listdir(d))}

        tracer.wrap("operators.read", "read_window", "read.read_window")
        tracer.wrap("sources.catalog", "read_level", "catalog.read_level")
        tracer.wrap("plans.grid", "plan_window", "grid.plan_window")
        # decode_tile also runs inside build and ingest UDFs: only the read
        # module's binding, used by read_window on the driver, is wrapped
        tracer.wrap("functions.codec", "decode_tile", "codec.decode_tile", only_in=("operators.read",))
        tracer.wrap("streaming.ingest", "_write_tiles_distributed", "ingest.base_write", attrs_fn=landed)
        tracer.wrap("streaming.ingest", "_patch_ancestors", "ingest.patch_ancestors")
        tracer.wrap("streaming.ingest", "_maybe_compact_deltas", "ingest.compact", attrs_fn=compacted)

    def layer_metrics(self, ev: EventLog) -> dict[str, float]:
        reads = self.of("read")
        read_windows = [o.window_ms for o in reads]
        rows = ev.node_rows(read_windows, "Scan parquet")
        tiles = self.span_count("codec.decode_tile", "read") * len(reads)
        batch_ops = {i for i, o in enumerate(self.ops) if o.kind == "batch" and o.ok}
        comp = [s.duration for s, _ in self._spans().get("ingest.compact", [])
                if s.op in batch_ops and s.attrs.get("compacted")]
        landed = [s.attrs["tiles"] for s, _ in self._spans().get("ingest.base_write", [])
                  if s.op in batch_ops]
        prog = [p for p in self.progress if p["batchId"] in set(self.batch_ids)]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        trig = [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0) for p in prog]
        base_bytes = self.G * self.G * fixtures.TILE ** 2
        return {
            "sources.catalog.read_level_ms": self.span_sum("catalog.read_level", "read") * 1e3,
            "sources.catalog.stored_bytes_per_base_byte": self.stored_bytes / base_bytes,
            "plans.grid.plan_window_us": self.span_sum("grid.plan_window", "read") * 1e6,
            "functions.codec.decode_ms": self.span_sum("codec.decode_tile", "read") * 1e3,
            "operators.read.scan_ms": self.span_sum("read.read_window", "read", use_self=True) * 1e3,
            "operators.read.tiles_per_read": tiles / len(reads) if reads else 0.0,
            "operators.read.rows_scanned_per_read": rows / len(reads) if reads else 0.0,
            "operators.read.pruning_ratio": tiles / rows if rows else 0.0,
            "streaming.ingest.batch_p50_s": median([o.seconds for o in self.of("batch")]) if self.of("batch") else 0.0,
            "streaming.ingest.add_batch_ms": float(np.mean(add)) if add else 0.0,
            "streaming.ingest.trigger_overhead_ms": float(np.mean(trig)) if trig else 0.0,
            "streaming.ingest.base_write_ms": self.span_sum("ingest.base_write", "batch") * 1e3,
            "streaming.ingest.patch_ancestors_ms": self.span_sum("ingest.patch_ancestors", "batch") * 1e3,
            "streaming.ingest.compact_ms": float(np.mean(comp)) * 1e3 if comp else 0.0,
            "streaming.ingest.compactions": float(len(comp)),
            "streaming.ingest.delta_files_at_read": float(np.mean(self.delta_files)) if self.delta_files else 0.0,
            "streaming.ingest.tiles_landed": float(np.mean(landed)) if landed else 0.0,
        }

    def close(self) -> None:
        # stored bytes are measured before the stream stops: the
        # checkpoint directory lives outside the pyramid
        self.stored_bytes = dir_bytes(self.dst)
        self.progress = list(self.q.recentProgress)
        self.q.stop()


# ---------------------------------------------------------------------------
# spatial_join: one point_in_polygon_join per op, written to a noop sink
# ---------------------------------------------------------------------------


class SpatialJoin(Workload):
    """The op is one join. ``work_per_cpu_s``: input points per CPU second
    of the median join."""

    name = "spatial_join"
    primary = latency_kind = work_kind = "join"
    N_POINTS = 262144
    WORLD = 1024.0
    RES = 6

    def setup(self) -> None:
        import pandas as pd
        from pyramidscheme_jl_spark.operators.joins import with_point_cells
        from pyramidscheme_jl_spark.sources.synth import POINTS_DDL, synth_polygons

        xy, self.polygons = fixtures.pip_inputs(self.seed, self.N_POINTS, self.WORLD, synth_polygons(self.WORLD))
        self.expected = oracles.pip_counts(xy, self.polygons)
        pdf = pd.DataFrame({
            "point_id": [f"pt-{i:07d}" for i in range(len(xy))],
            "x": xy[:, 0],
            "y": xy[:, 1],
        })
        pts = self.spark.createDataFrame(pdf, POINTS_DDL)
        self.points = with_point_cells(pts.repartition(nproc()), self.RES, self.WORLD).cache()
        self.points.count()
        self.pairs: list[int] = []
        for _ in range(3):  # warm-up: join cost falls over the first three
            self.step()

    def join_once(self) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyramidscheme_jl_spark.operators.joins import point_in_polygon_join

        obs = Observation()
        ids = [p["polygon_id"] for p in self.polygons]
        df = point_in_polygon_join(self.spark, self.points, self.polygons, self.RES, self.WORLD).observe(
            obs,
            F.count(F.lit(1)).alias("pairs"),
            *[F.sum((F.col("polygon_id") == pid).cast("long")).alias(f"n{i}") for i, pid in enumerate(ids)],
        )
        df.write.format("noop").mode("overwrite").save()
        got = obs.get
        return {"pairs": got["pairs"], **{pid: got[f"n{i}"] or 0 for i, pid in enumerate(ids)}}

    def check(self, got: dict) -> None:
        bad = {k: (got[k], v) for k, v in self.expected.items() if got[k] != v}
        if bad or got["pairs"] != sum(self.expected.values()):
            raise oracles.OracleMismatch(f"pip counts (got, want): {bad}")
        self.pairs.append(got["pairs"])

    def step(self) -> bool:
        self.timed("join", self.join_once, check=self.check, work=self.N_POINTS)
        return True

    def install_spans(self, tracer: Tracer) -> None:
        tracer.wrap("operators.joins", "_covers_df", "joins.cover_plan")
        tracer.wrap("functions.cells", "polygon_to_cells_classified", "cells.cover")

    def layer_metrics(self, ev: EventLog) -> dict[str, float]:
        joins = self.of("join")
        cand = ev.node_rows([o.window_ms for o in joins], "BroadcastHashJoin") / max(1, len(joins))
        pairs = float(np.mean(self.pairs[-len(joins):])) if joins else 0.0
        return {
            "operators.joins.cover_plan_ms": self.span_sum("joins.cover_plan", "join") * 1e3,
            "functions.cells.cover_ms": self.span_sum("cells.cover", "join") * 1e3,
            "operators.joins.candidate_rows": cand,
            "operators.joins.refine_yield": pairs / cand if cand else 0.0,
        }

    def close(self) -> None:
        self.points.unpersist()


WORKLOADS = {w.name: w for w in (Build, IngestMixed, SpatialJoin)}
