"""One benchmark run: session, set-up, timed phase, checks, metrics."""

from __future__ import annotations

import json
import os
import sys
import time
import warnings

from . import eventlog
from .harness import TreeRSS, Workdir, cpu_times, shutdown, start_session, steal_pct
from .stats import percentile, supported_percentile
from .trace import Tracer
from .workloads import WORKLOADS


def declared_metrics(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as ``BENCHMARK.json``
    declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def run(root: str, name: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    """Run workload ``name`` for ``seconds`` and return the result object.
    ``t_start`` is when the process started: set-up time counts from it."""
    # pyspark warns once per grouped-map plan about missing type hints
    warnings.filterwarnings("ignore", category=UserWarning, module="pyspark")
    end_to_end, per_layer = declared_metrics(root)
    work = Workdir(root)
    try:
        return _run(work, name, seed, seconds, trace, t_start, per_layer if trace else end_to_end)
    finally:
        work.remove()


def _run(work: Workdir, name: str, seed: int, seconds: float, trace: bool, t_start: float,
         units: dict[str, str]) -> dict:
    evdir = work.sub("eventlog") if trace else None
    t0 = time.perf_counter()
    spark = start_session(work, evdir)
    session_s = time.perf_counter() - t0
    print(f"  imports {t0 - t_start:.2f} s, session start {session_s:.2f} s", file=sys.stderr)
    tracer = Tracer() if trace else None
    wl = WORKLOADS[name](spark, work, seed, tracer)
    try:
        if tracer is not None:
            wl.install_spans(tracer)
        wl.setup()
        wl.reset()
        setup_s = time.perf_counter() - t_start
        steal0 = cpu_times()
        with TreeRSS() as rss:
            end = time.perf_counter() + seconds
            while time.perf_counter() < end and wl.step():
                pass
        steal = steal_pct(steal0, cpu_times())
        wl.close()
    finally:
        if tracer is not None:
            tracer.unwrap()
        shutdown(spark)

    ops = [o for o in wl.ops if o.kind != "cycle"]
    failed = sum(not o.ok for o in ops)
    lat = wl.latencies()
    tail = supported_percentile(len(lat))
    print(
        f"perfbench {name} seed={seed}: {len(ops)} ops, {failed} failed, steal {steal:.2f}%; "
        f"op latency over {len(lat)} samples"
        + (f": p50 {percentile(lat, 50) * 1e3:.1f} ms" if lat else "")
        + (f", p{tail:g} {percentile(lat, tail) * 1e3:.1f} ms" if tail else ", no tail percentile"),
        file=sys.stderr,
    )
    for kind in sorted({o.kind for o in ops}):
        print(f"  {kind} seconds: " + " ".join(f"{o.seconds:.3f}" for o in ops if o.kind == kind),
              file=sys.stderr)
        print(f"  {kind} cpu seconds: " + " ".join(f"{o.cpu_s:.3f}" for o in ops if o.kind == kind),
              file=sys.stderr)
    print(f"  process-tree RSS: median {rss.median_bytes() / 2**20:.0f} MB, peak "
          f"{rss.peak_bytes() / 2**20:.0f} MB; {min(n for _, n in rss.samples)} to "
          f"{max(n for _, n in rss.samples)} processes", file=sys.stderr)
    if trace:
        (log_name,) = os.listdir(evdir)
        values = wl.per_layer(eventlog.load(os.path.join(evdir, log_name)), session_s, steal)
        layer, secs = wl.largest_self_time()
        for k, u in units.items():
            print(f"  {k:45s} {values.get(k, 0.0):14.4f} {u}", file=sys.stderr)
        print(f"  largest self time: {layer} ({secs * 1e3:.1f} ms per op)", file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            **wl.end_to_end(),
            "rss_p50_mb": rss.median_bytes() / 2**20,
        }
    # a metric with no successful op to measure is left out; a layer the
    # workload never calls reports 0
    metrics = {
        k: {"value": float(values.get(k, 0.0)), "unit": u}
        for k, u in units.items() if trace or k in values
    }
    return {
        "correct": failed == 0 and len(metrics) == len(units),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
