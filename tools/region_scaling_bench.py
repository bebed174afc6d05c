"""Two-parallelism scaling for region_label (r8).

Fixture: a G*256-square raster of 96px value blocks (``((x//96)+(y//96))
% 5``) — blocks deliberately misaligned with the 256px tile grid so most
regions cross tile boundaries and the stitch path carries real load; 4-
connectivity keeps diagonal same-value blocks separate, so the region
count has a closed form (ceil(N/96)^2) asserted every rep. Tiles are
generated executor-side straight onto /dev/shm (memoized).

Protocol = BENCH/RASTER_SCALING.md: fresh SparkSession per core count,
untimed warm pass, best-of-``--reps`` wall of the full region table
(the CC resolve runs eagerly inside the call; the wall covers call +
materialization), per-rep /proc/stat steal, input splits asserted
>= 2x the largest core count.

Usage: python tools/region_scaling_bench.py [--cores 2 8] [--g 32]
       [--reps 2]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/dev/shm/psjl_region_scale"
BLOCK = 96
NVALS = 5


def steal_read():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = list(map(int, parts[1:]))
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def ensure_raster(g: int) -> str:
    import numpy as np

    from pyramidscheme_jl_spark.operators.build import (
        PyramidSpec,
        _rows_to_pdf,
        _tile_row,
    )
    from pyramidscheme_jl_spark.session import get_spark
    from pyramidscheme_jl_spark.sources.catalog import (
        TILE_SCHEMA,
        write_level,
        write_multiscales,
    )

    path = f"{BASE}/pyr_g{g}"
    if os.path.exists(f"{path}/.done"):
        return path
    spark = get_spark("region-scale-build")  # local[session.local_cpus()]
    n = g * 256
    spec = PyramidSpec(n, n, 256)

    def gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tx, ty = int(tid) % g, int(tid) // g
                x = tx * 256 + np.arange(256)[None, :]
                y = ty * 256 + np.arange(256)[:, None]
                a = ((x // BLOCK + y // BLOCK) % NVALS).astype(np.uint8)
                rows.append(_tile_row(spec, 0, tx, ty, a))
            yield _rows_to_pdf(rows)

    tiles = spark.range(0, g * g, 1, 64).mapInPandas(gen, TILE_SCHEMA)
    write_level(tiles, path, 0)
    write_multiscales(path, 0, 256, n, n, "synth", "-")
    open(f"{path}/.done", "w").close()
    spark.stop()
    return path


def run_one(path: str, g: int, cores: int, reps: int) -> dict:
    from pyramidscheme_jl_spark.operators.regions import region_label
    from pyramidscheme_jl_spark.session import get_spark

    spark = get_spark(f"region-scale-{cores}", master=f"local[{cores}]")
    expect = (-(-(g * 256) // BLOCK)) ** 2
    region_label(spark, path, z=0).count()  # warm (package ship + JIT)
    walls, steals = [], []
    for _ in range(reps):
        s0, t0 = steal_read(), time.time()
        n = region_label(spark, path, z=0).count()
        walls.append(round(time.time() - t0, 3))
        s1 = steal_read()
        steals.append(round(100 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1]), 2))
        assert n == expect, f"region count {n} != closed form {expect}"
    spark.stop()
    return {"cores": cores, "walls": walls, "best": min(walls),
            "steal_pct": steals, "regions": expect}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, nargs="+", default=[2, 8])
    ap.add_argument("--g", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    path = ensure_raster(args.g)
    splits = len(glob.glob(f"{path}/tiles/z=0/*.parquet"))
    assert splits >= 2 * max(args.cores), (
        f"only {splits} input splits for {max(args.cores)} cores — map-side "
        "parallelism would be pinned by the input (r6/r7 lesson)"
    )
    out = {"g": args.g, "px": (args.g * 256) ** 2, "splits": splits, "runs": []}
    for c in args.cores:
        r = run_one(path, args.g, c, args.reps)
        out["runs"].append(r)
        print(json.dumps(r))
    if len(out["runs"]) >= 2:
        a, b = out["runs"][0], out["runs"][-1]
        ratio = a["best"] / b["best"]
        eff = ratio / (b["cores"] / a["cores"])
        out["speedup"] = round(ratio, 3)
        out["efficiency"] = round(eff, 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
