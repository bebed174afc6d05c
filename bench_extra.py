"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink at an arbitrary SF dir, and optionally dumps
``explain("formatted")`` to a file per query.

This file is NOT the driver's frozen bench (`bench.py`); it exists so the
optimization loop can isolate one query at a time without paying the full
suite. Usage:

    python bench_extra.py --sf /root/testdata/sf1.0 --reps 2 \
        --plans plans/r09 --suffix before minhash_lsh dedup_components

Prints one JSON line: {"sf": ..., "queries": {name: [rep_secs...]}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None, help="dir to write explain(formatted) files")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    args = ap.parse_args()

    import pandas as pd

    import __spark_entry__ as E
    from pyramidscheme_jl_spark.session import get_spark, local_cpus

    cpus = local_cpus()
    spark = get_spark(app="bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    def _warm(batches):
        from pyramidscheme_jl_spark.functions.codec import decode_tile  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 2, 1, cpus).mapInPandas(_warm, "x long").count()

    qs = E.queries()
    # one untimed warmup query to land JIT/parquet-footer constants
    qs["block_agg_mean"](spark, args.sf).write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}
    for name in args.names:
        fn = qs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        reps = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = reps
        print(f"## {name}: {reps}", file=sys.stderr)
    print(json.dumps({"sf": args.sf, "queries": out}))


if __name__ == "__main__":
    main()
