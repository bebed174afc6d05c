"""SparkSession factory with the engine's tuned defaults.

Tuning rationale (SURVEY.md §4 physical-execution notes):

- Arrow transfer on; small ``maxRecordsPerBatch`` because tile rows are fat
  (a 256x256 float64 tile is 512 KB) — 32 rows/batch keeps UDF peak memory
  ~16 MB/task instead of the 10k-row default's multi-GB.
- AQE on (coalesce + skew-join) — replaces the reference's
  ``optimize_loopranges`` memory-budget loop tiling (src/PyramidScheme.jl:250)
  with runtime re-planning.
- ``shuffle.partitions`` defaults to 2x cores locally; at cluster scale this
  is expected to be overridden (AQE coalesces down anyway).
- ``files.maxPartitionBytes`` is 16m only under a ``local``/``local[...]``
  master, where many cores share small single-file tables; any other
  master keeps Spark's 128m default, because cluster-scale scans want
  fewer, larger splits. ``SPARK_GRAFT_MAX_PARTITION_BYTES`` overrides both.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for shipping to executors (``--py-files`` equivalent).

    Local mode only *appears* to work without this when the driver's cwd is
    the repo root; any other launch dir — or a real cluster — needs the
    package on every worker's ``sys.path``. ``get_spark`` ships it
    automatically; ``spark-submit --py-files $(python -c 'from
    pyramidscheme_jl_spark.session import package_zip; print(package_zip())')``
    does the same for external submission (north rule).
    """
    pkg_dir = pathlib.Path(__file__).resolve().parent
    out = os.path.join(
        tempfile.gettempdir(), f"pyramidscheme_jl_spark-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(out, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, p.relative_to(pkg_dir.parent))
    return out


_DRIVER_MALLOC_TUNED = False


def _tune_driver_malloc() -> None:
    """glibc malloc tuning for the DRIVER python process — the same fix the
    executorEnv MALLOC_*_THRESHOLD_ vars apply to workers, via mallopt()
    because the driver's env is already baked by the time we run. Driver-
    side numpy/Arrow paths (connected_components' 27M-edge resolve,
    toArrow collects, createDataFrame conversions) allocate and free
    multi-hundred-MB buffers; with default thresholds each one is a fresh
    mmap whose first-touch page faults and munmap TLB shootdowns dominate
    (measured on this class of host: 27.4M-element gather 4.4 -> 0.1 s,
    np.unique 9.3 -> 0.7 s from the second allocation on once large
    blocks are served from the reusable brk heap)."""
    global _DRIVER_MALLOC_TUNED
    if _DRIVER_MALLOC_TUNED:
        return
    _DRIVER_MALLOC_TUNED = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: defaults stand


def spark_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    env=os.environ,
) -> dict:
    """The engine's session conf for ``master``, ``extra_conf`` applied last.

    Pure (reads only ``env``), so both branches of the master-dependent
    defaults are testable without starting a session.
    """
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(8, cores)),
        # keep the Python-worker pool alive and cheap: fat Arrow-batched UDF
        # stages re-fork workers (re-importing numpy/pandas per task) without
        # these, which measured 2-3x slower on 32 cores
        "spark.python.worker.reuse": "true",
        "spark.python.worker.faulthandler.enabled": "false",
        "spark.python.daemon.module": "pyramidscheme_jl_spark.daemon_preload",
        # glibc malloc tuning for python workers ONLY (executorEnv is the env
        # channel that reaches them — and scoping it there keeps the JVM's
        # native allocator untouched): tile UDFs churn >128KB buffers which
        # glibc otherwise mmap()s; munmap TLB-shootdown IPIs hit every core
        # (measured 60-87% system time at 32 workers)
        "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": str(1 << 30),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # byte-capped Arrow batches: fat 512KB tile rows batch ~32/batch,
        # skinny join rows batch 10k/batch — a fixed small record cap was
        # measured 10x slower on skinny-row UDF stages (62k tiny batches)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(16 * 1024 * 1024),
        # vectorized parquet reader batches 4096 rows by default — with fat
        # binary tile rows (512 KB) that is a 2 GB columnar batch per task;
        # 32 concurrent tasks then GC-thrash the JVM while Python workers
        # starve (measured: 38 s blocked in open_stream). 128 rows caps a
        # batch at ~64 MB worst-case.
        "spark.sql.parquet.columnarReaderBatchSize": "128",
        # DataFrame cache (InMemoryRelation) packs 10k rows per columnar
        # batch by default — multi-GB buffers on fat binary tile rows, and
        # compression attempts on incompressible pixel bytes; measured 36.6s
        # -> 23.8s for a cache-while-write of a 537 MB level at batchSize 32
        "spark.sql.inMemoryColumnarStorage.batchSize": "32",
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": env.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        # decision-sized driver collects (connected_components driver tier,
        # bounded at 50M edges = ~800 MB of Arrow longs) need more than the
        # 1g default; 8g stays well inside the 24g driver heap
        "spark.driver.maxResultSize": "8g",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    # scan split size. Local default 16m: the bench host pairs 32 cores with
    # 100MB-class single-file tables, and the stock 128m leaves e.g. a 126 MB
    # lineitem scan (6 row groups) as ONE task feeding every aggregation/join
    # stage built on it. Any other master keeps Spark's default (guide: large
    # sequential scans want fewer, larger map tasks feeding any shuffle).
    # SPARK_GRAFT_MAX_PARTITION_BYTES overrides either.
    local = master == "local" or master.startswith("local[")
    split = env.get("SPARK_GRAFT_MAX_PARTITION_BYTES") or ("16m" if local else None)
    if split:
        conf["spark.sql.files.maxPartitionBytes"] = split
    conf.update(extra_conf or {})
    return conf


def local_cpus(env=os.environ) -> int:
    """Cores of the default ``local[N]`` master: ``SPARK_GRAFT_CPUS`` if
    set, else this process's CPU-affinity count (the cores it may run on,
    not the machine's)."""
    return int(env.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app: str = "pyramidscheme-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _tune_driver_malloc()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{local_cpus()}]"
    # make the package importable by the python *daemon* (pre-JVM-launch env)
    # so daemon_preload can warm numpy/pandas/our kernels before forking
    pkg_root = str(pathlib.Path(__file__).resolve().parent.parent)
    if pkg_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    b = SparkSession.builder.appName(app).master(master)
    for k, v in spark_conf(master, shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if not getattr(spark, "_pyramid_pkg_shipped", False):
        spark.sparkContext.addPyFile(package_zip())
        spark._pyramid_pkg_shipped = True
    return spark
