"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads build ...]
        [--traced-seed 11] [--out perfbench/baseline/<file>.json]

For every workload and end-to-end metric this prints the median and the
quartile spread (Q3 - Q1) / median of the per-seed values, next to the
metric's bound from BENCHMARK.json. With ``--traced-seed`` it adds one
traced run per workload and reports the tracing overhead: the traced
run's end-to-end values against the untraced medians. Every run's result,
wall time and CPU steal is written to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    steal = re.search(r"steal ([0-9.]+)%", p.stderr)
    op_wall = re.search(r"samples: p50 ([0-9.]+) ms", p.stderr)
    return {
        "workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
        "steal_pct": float(steal.group(1)) if steal else None,
        "op_wall_p50_ms": float(op_wall.group(1)) if op_wall else None,
        "result": json.loads(lines[-1]),
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    report: dict = {}
    for wl in args.workloads:
        for seed in args.seeds:
            r = run_once(wl, seed, args.seconds, 0)
            runs.append(r)
            print(f"{wl} seed {seed}: {r['wall_s']:.1f} s wall, steal {r['steal_pct']}%, "
                  f"op wall p50 {r['op_wall_p50_ms']} ms, "
                  f"{json.dumps({k: round(v['value'], 3) for k, v in r['result']['metrics'].items()})}",
                  flush=True)
        mine = [r for r in runs if r["workload"] == wl]
        report[wl] = {}
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in mine]
            spread = quartile_spread(vals) if len(vals) >= 2 else 0.0
            report[wl][name] = {"median": median(vals), "spread": spread, "bound": bounds[name]}
            print(f"  {name:14s} median {median(vals):12.3f}  spread {spread:6.3f}  "
                  f"bound {bounds[name]}  {'ok' if spread < bounds[name] / 3 else 'WIDE'}")
        if args.traced_seed is not None:
            r = run_once(wl, args.traced_seed, args.seconds, 1)
            runs.append(r)
            m = r["result"]["metrics"]
            over = {
                k: m[f"traced.{k}"]["value"] / report[wl][k]["median"] - 1.0
                for k in ("op_cpu_p50_ms", "work_per_cpu_s")
            }
            report[wl]["tracing_overhead"] = over
            print(f"  tracing overhead (traced / untraced median - 1): {over}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seconds": args.seconds, "nproc": len(os.sched_getaffinity(0)),
                       "report": report, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
