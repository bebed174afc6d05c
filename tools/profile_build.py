"""Profile the bench.py pyramid-build section (the BENCH_r01 discrepancy).

Reproduces bench.py's exact config (G=64, ``local[session.local_cpus()]``,
materialize_base=False) with per-level commit timing (PYRAMID_BUILD_VERBOSE)
and /proc/stat steal% around the run, so we can attribute the wall-clock:
per-level Spark jobs, parquet write, tail fusion, or host noise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
os.environ["PYRAMID_BUILD_VERBOSE"] = "1"


def cpu_counters():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = list(map(int, parts[1:]))
    # user nice system idle iowait irq softirq steal
    return sum(vals), vals[7], vals[3] + vals[4]


def main() -> None:
    G = int(os.environ.get("SPARK_GRAFT_BENCH_G", "64"))
    import pandas as pd

    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.session import get_spark, local_cpus

    cpus = local_cpus()
    from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images

    spark = get_spark(app="profile-build", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    def _warm(batches):
        from pyramidscheme_jl_spark.functions.codec import decode_tile  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 2, 1, cpus).mapInPandas(_warm, "x long").count()

    t0 = time.perf_counter()
    rows = synth_images(G=G)
    t_synth = time.perf_counter() - t0

    t0 = time.perf_counter()
    images = spark.createDataFrame(rows, IMAGES_DDL).repartition(cpus).cache()
    n_base = images.count()
    t_cache = time.perf_counter() - t0

    tmp = tempfile.mkdtemp(prefix="profile_pyr_")
    tot0, steal0, idle0 = cpu_counters()
    try:
        t0 = time.perf_counter()
        spec = build_pyramid(
            spark, images, f"{tmp}/pyr", G=G, reducer="mean",
            run_id="bench", materialize_base=False,
        )
        dt_build = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    tot1, steal1, idle1 = cpu_counters()
    dtot = max(1, tot1 - tot0)
    print(
        json.dumps(
            {
                "G": G,
                "cpus": cpus,
                "n_base": n_base,
                "t_synth": round(t_synth, 2),
                "t_cache_count": round(t_cache, 2),
                "t_build": round(dt_build, 2),
                "mpx_per_sec": round(n_base * 65536 / dt_build / 1e6, 2),
                "steal_pct": round(100 * (steal1 - steal0) / dtot, 1),
                "idle_pct": round(100 * (idle1 - idle0) / dtot, 1),
                "nlevels": spec.nlevels,
            }
        )
    )


if __name__ == "__main__":
    main()
