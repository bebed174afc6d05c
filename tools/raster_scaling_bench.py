"""Two-parallelism scaling evidence for the round-6 raster<->vector
operators (north rule: same job at N and 4N cores, report throughput at
both + efficiency).

Protocol matches BENCH/CODEC_SCALING.md: fresh SparkSession per core
count (cold JVM absorbed by an untimed warmup job), best-of-REPS wall,
steal% recorded per rep. Work sizes are compute-bound at local[32]
(rasterize: ray-casting ~1k-vertex rings over a 4096^2 world; zonal:
boundary-shell decode + ray cast over a G=16 pyramid) so the curve
measures the operators, not job-floor constants.

Usage: python tools/raster_scaling_bench.py [cores ...]   (default 2 8 32)
Writes one JSON line per (op, cores) to stdout.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 2  # work sized so the parallel region dominates (see below)


class Steal:
    def __init__(self):
        self.t0 = self.s0 = None

    @staticmethod
    def _read():
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = list(map(int, parts[1:]))
        return sum(vals), vals[7] if len(vals) > 7 else 0

    def start(self):
        self.t0, self.s0 = self._read()

    def stop(self) -> float:
        t1, s1 = self._read()
        dt = t1 - self.t0
        return round(100.0 * (s1 - self.s0) / dt, 2) if dt else 0.0


def ring_polygons(n: int, world: float, verts: int = 96) -> list[dict]:
    """n deterministic star-convex rings with many vertices (ray-cast cost
    scales with vertices x pixels — the compute knob)."""
    import numpy as np

    out = []
    side = int(math.ceil(math.sqrt(n)))
    cellw = world / side
    for i in range(n):
        cx = (i % side + 0.5) * cellw
        cy = (i // side + 0.5) * cellw
        th = np.linspace(0, 2 * math.pi, verts, endpoint=False)
        r = cellw * (0.30 + 0.12 * np.sin(5 * th + i))
        ring = np.stack([cx + r * np.cos(th), cy + r * np.sin(th)], axis=1)
        out.append({"polygon_id": f"poly-{i:04d}", "ring": ring.tolist(), "value": float(i % 7 + 1)})
    return out


def run(cores: int) -> None:
    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.operators.joins import zonal_raster
    from pyramidscheme_jl_spark.operators.raster import rasterize_polygons
    from pyramidscheme_jl_spark.session import get_spark
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    spark = get_spark(app=f"raster-scale-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8))
    steal = Steal()
    world = 4096
    # 128 rings x 128 verts ~= 110 s of single-core ray-cast across ~512
    # tile renders: large enough that job-floor constants (<1 s) amortize,
    # so the curve measures the OPERATOR (smaller sizes measured 0.4-0.5
    # efficiency purely from constants at 2-4 s walls)
    polys = ring_polygons(128, float(world), verts=128)

    # warmup (untimed): the same op shapes on a tiny input
    rasterize_polygons(spark, polys[:2], (512, 512), tilesize=256).count()

    best, steals = None, []
    for _ in range(REPS):
        steal.start()
        t0 = time.perf_counter()
        n_tiles = rasterize_polygons(spark, polys, (world, world), tilesize=256).count()
        dt = time.perf_counter() - t0
        steals.append(steal.stop())
        best = dt if best is None else min(best, dt)
    print(json.dumps({
        "op": "rasterize_polygons", "cores": cores, "sec": round(best, 3),
        "tiles": n_tiles, "steal_pct": steals,
    }), flush=True)

    # zonal over a real pyramid: G=16 mosaic (4096^2 base, 256 tiles)
    tmp = tempfile.mkdtemp(prefix=f"zscale{cores}_")
    images = spark.createDataFrame(synth_images(G=16), IMAGES_DDL)
    build_pyramid(spark, images, tmp, G=16, reducer="mean", run_id="scale")
    zonal_raster(spark, tmp, polys[:2], z=0).count()  # warm the op shape

    best, steals = None, []
    for _ in range(REPS):
        steal.start()
        t0 = time.perf_counter()
        n_rows = zonal_raster(spark, tmp, polys, z=0).count()
        dt = time.perf_counter() - t0
        steals.append(steal.stop())
        best = dt if best is None else min(best, dt)
    print(json.dumps({
        "op": "zonal_raster", "cores": cores, "sec": round(best, 3),
        "polygons": n_rows, "steal_pct": steals,
    }), flush=True)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    for c in [int(a) for a in sys.argv[1:]] or [2, 8, 32]:
        run(c)
