#!/usr/bin/env python
"""Compute-bound scaling evidence: JPEG decode + feature extraction.

The primary scaling workload (BENCH/SCALING.md, mean pyramid build) is
~1 flop/byte — on this single shared box it saturates the one memory bus
from ~8 threads, so N->4N pairs above that read the HOST's ceiling, not
the engine's (see BENCH/BASELINE.md limiter analysis; a real cluster adds
a memory bus with every executor). This bench complements it with the
OTHER end of the spectrum: multimodal JPEG decode + feature extraction
(`image_features` over fmt='jpeg' rows) — ~30 ms of pure per-row compute,
embarrassingly parallel, zero shuffle. On a workload the host CAN scale
(its pure-CPU control permits ~0.8 per 4x at low thread counts), the
engine's plan must show it; anything less would be an engine-added
serialization.

Writes BENCH/CODEC_SCALING.md + appends raw JSON to BENCH/scaling.json's
sibling codec_scaling.json.

Usage: python tools/codec_scaling_bench.py [--g 64] [--reps 2]
       [--configs 2:1,8:1,32:1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

# the checkout this script lives in; the worker imports the package from it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = """\
import json, sys, time
sys.path.insert(0, ROOT)
import pandas as pd

cpus = int(sys.argv[1]); G = int(sys.argv[2]); task_cpus = int(sys.argv[3])

from pyramidscheme_jl_spark.session import get_spark
from pyramidscheme_jl_spark.operators.multimodal import image_features
from pyramidscheme_jl_spark.sources.synth import IMAGES_DDL, synth_images_df

spark = get_spark(app=f"codec-scale-{cpus}", master=f"local[{cpus}]",
                  extra_conf={"spark.task.cpus": str(task_cpus)})
spark.sparkContext.setLogLevel("ERROR")

def warm(batches):
    from pyramidscheme_jl_spark.functions.jpeg import decode_jpeg  # noqa
    for pdf in batches:
        yield pd.DataFrame({"x": [len(pdf)]})
spark.range(0, cpus * 2, 1, cpus).mapInPandas(warm, "x long").count()

# corpus prep (excluded from timing): synth raw tiles -> real jpeg bytes
def to_jpeg(batches):
    import numpy as np
    from pyramidscheme_jl_spark.functions.jpeg import encode_jpeg
    for pdf in batches:
        out = pdf.copy()
        out["bytes"] = [
            encode_jpeg(
                np.frombuffer(b, dtype=np.uint8).reshape(int(h), int(w)),
                quality=90,
            )
            for b, w, h in zip(pdf["bytes"], pdf["w"], pdf["h"])
        ]
        out["fmt"] = "jpeg"
        yield out

jpegs = (
    synth_images_df(spark, G=G, partitions=cpus * 4)
    .mapInPandas(to_jpeg, IMAGES_DDL)
    .cache()
)
n = jpegs.count()

t0 = time.perf_counter()
feats = image_features(jpegs).count()
dt = time.perf_counter() - t0
assert feats == n

print(json.dumps({
    "cpus": cpus, "task_cpus": task_cpus, "images": n,
    "feat_sec": round(dt, 3),
    "px_per_sec": round(n * 65536 / dt, 1),
    "imgs_per_sec": round(n / dt, 1),
}))
"""


def _steal_now() -> list[int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return list(map(int, parts[1:9]))


def run_one(cpus: int, g: int, task_cpus: int) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(f"ROOT = {ROOT!r}\n" + WORKER)
        script = f.name
    s0 = _steal_now()
    out = subprocess.run(
        [sys.executable, script, str(cpus), str(g), str(task_cpus)],
        capture_output=True, text=True, timeout=1800,
    )
    s1 = _steal_now()
    if out.returncode != 0:
        raise RuntimeError(out.stdout[-2000:] + out.stderr[-2000:])
    d = [a - b for a, b in zip(s1, s0)]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    r["steal_pct"] = round(100.0 * d[7] / max(1, sum(d)), 1)
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--g", type=int, default=64)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--configs", default="2:1,8:1,32:1")
    ap.add_argument("--out", default="BENCH/CODEC_SCALING.md")
    args = ap.parse_args()
    configs = []
    for part in args.configs.split(","):
        c, _, t = part.partition(":")
        configs.append((int(c), int(t or 1)))

    import time as _time

    runs: dict[tuple[int, int], list[dict]] = {cfg: [] for cfg in configs}
    for rep in range(args.reps):
        for cfg in configs:
            r = run_one(cfg[0], args.g, cfg[1])
            runs[cfg].append(r)
            print(f"rep={rep} {cfg}: {json.dumps(r)}", flush=True)
            _time.sleep(5)

    best = {cfg: max(rs, key=lambda r: r["px_per_sec"]) for cfg, rs in runs.items()}
    bycpus = {cfg[0]: best[cfg] for cfg in configs}

    def eff(lo: int, hi: int) -> float | None:
        if lo not in bycpus or hi not in bycpus:
            return None
        return round(bycpus[hi]["px_per_sec"] / bycpus[lo]["px_per_sec"] / (hi / lo), 3)

    pairs = {f"{lo}->{hi}": eff(lo, hi) for lo, hi in ((2, 8), (8, 32)) if eff(lo, hi)}
    summary = {"workload": "jpeg decode + image_features", "g": args.g,
               "curve": {f"{c}:{t}": best[(c, t)] for c, t in configs}, "pairs": pairs}
    print(json.dumps(summary))
    with open("BENCH/codec_scaling.json", "w") as f:
        json.dump(summary, f, indent=1)

    rows = "\n".join(
        f"| local[{c}] | {t} | {best[(c, t)]['px_per_sec']:,.0f} "
        f"| {best[(c, t)]['imgs_per_sec']:,.0f} | {best[(c, t)]['feat_sec']} "
        f"| {best[(c, t)]['steal_pct']} |"
        for c, t in configs
    )
    prow = "\n".join(f"| {k} (x4) | {v} |" for k, v in pairs.items())
    doc = f"""# BENCH/CODEC_SCALING — compute-bound scaling complement

See the module docstring of `tools/codec_scaling_bench.py` for why this
workload exists: the primary build workload is memory-bandwidth-bound on
this single box from ~8 threads, so its upper pairs measure the host.
JPEG decode + `image_features` (~30 ms pure compute per row, zero
shuffle, Arrow-batched mapInPandas) is the workload the host CAN scale —
the engine must not add serialization on top.

Corpus: G={args.g} grid = {args.g * args.g} real baseline-JPEG images
(256x256, q=90), encoded distributed and cached before timing.

| config | task.cpus | decode px/s | imgs/s | sec | steal% |
|---|---|---|---|---|---|
{rows}

| pair (N -> 4N) | efficiency |
|---|---|
{prow}

Raw JSON: `BENCH/codec_scaling.json`.
"""
    with open(args.out, "w") as f:
        f.write(doc)


if __name__ == "__main__":
    main()
