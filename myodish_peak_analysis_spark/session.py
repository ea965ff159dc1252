"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for pandas-UDF
exchange, and a shuffle-partition count sized to the environment.

Two settings concern the Python workers:

* ``spark.executorEnv.PYTHONPATH`` starts with the directory that holds
  this package, so the workers import the same package as the driver
  whatever the driver's working directory.
* ``spark.python.daemon.module`` is :mod:`._daemon`, which has the
  workers import pyspark from its installed copy instead of Spark's
  ``pyspark.zip`` when the two are the same version (see its docstring:
  that saves ~0.2 s of worker CPU per Python task).

Two settings concern the JVM's generated code, so that a warm pass
compiles none of it:

* ``spark.sql.codegen.cache.maxEntries`` holds the whole surface's
  compiled classes. Spark's default keeps 100, and one pass of the
  LLM pipeline (manifest, IVF-PQ fit and search) generates ~230
  distinct classes, so the least-recently-used eviction dropped each
  class before its reuse and every pass re-ran Janino for nearly all of
  them. Every registered query together compiles 1,712 classes.
* ``spark.sql.codegen.useIdInClassName`` is off. AQE numbers
  whole-stage codegen pipelines in the order it plans their query
  stages, which depends on which stage finishes first; with the number
  in the class name the same pipeline compiles again under a new name.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def release_caches(spark: SparkSession) -> None:
    """Release every cache entry the operator library has accumulated.

    Cache-lifetime contract (the package-level statement of what each
    operator docstring notes locally): a few operators persist
    intermediates BY DESIGN and deliberately do not unpersist them
    before returning, because the returned DataFrame is lazy and its
    most expensive consumer pass still reads the cache —
    ``llm.similarity._lloyd_fit`` (each quantizer's source: the PQ
    subvector explosion, the IVF normed base, and their fit samples).
    Spark's CacheManager dedups identical canonicalized plans, so
    repeated calls on the SAME input share one entry — but a long
    session calling them across many DISTINCT inputs accumulates
    entries (bounded by MEMORY_AND_DISK eviction, not released).
    Call this between unrelated workloads."""
    spark.catalog.clearCache()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes this JVM has compiled from generated code so far: the
    count of Spark's ``CodegenMetrics`` compilation-time histogram. A
    warm repeat of a workload that fits the codegen cache adds 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "myodish-peak-analysis-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` entries are applied to the builder and therefore
    only take effect when THIS call creates the session (configs like
    ``spark.sql.warehouse.dir`` are fixed at session creation);
    standalone tools that need one (bench_bucketing) call this first.
    A ``spark.executorEnv.PYTHONPATH`` in it is appended to the
    package's directory, not replaced by it."""
    conf = dict(extra_conf or {})
    pythonpath = os.pathsep.join(filter(None, [_PACKAGE_PARENT, conf.pop(_PYTHONPATH, "")]))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing floors partitions at
        # max(minPartitionSize, shuffleBytes / parallelism). The 1 MB
        # default is a bytes-proxy for cost; the signal operators are
        # CPU-bound (window chains, prominence walks) at ~100 B/row,
        # so small-SF shuffles collapse to 2 tasks on 32 cores. A 64 KB
        # floor restores CPU parallelism locally and is inert at scale,
        # where shuffleBytes/parallelism dominates the max().
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Harness parquet stores nanosecond timestamps; Spark 4 rejects
        # TIMESTAMP(NANOS) unless read as raw longs (VERDICT r1 item 1).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # The stage-progress bar writes \r-terminated lines to the
        # console; when a harness captures combined output into a
        # bounded tail buffer they flood it and can clobber the one
        # JSON result line bench.py emits (r5: BENCH_r05.json parsed
        # null because the tail was truncated mid-JSON). Nothing in
        # this repo reads the bar, so disable it session-wide.
        .config("spark.ui.showConsoleProgress", "false")
        .config(_PYTHONPATH, pythonpath)
        .config("spark.python.daemon.module", f"{__package__}._daemon")
        # Static conf, read once per JVM (executors read it from the
        # SparkConf). Measured working set: the 151 registered queries
        # at sf0.01 compile 1,712 distinct classes (4096 is ~2x that);
        # one LLM pass on sf0.001 compiles ~230, more than the default
        # 100 holds. Cost: metaspace, 185 -> 198 MB after two sweeps of
        # the whole surface (docs/SCALE.md).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Generated classes are named GeneratedIterator instead of
        # GeneratedIteratorForCodegenStage<N>, so equal code is one
        # cache entry whatever number AQE gave its stage (the plan's
        # *(N) markers still name it). Warm repeats of the sf0.001 LLM
        # composition compiled 2-10 classes in 3 of 7 with the number,
        # 0 in 7 of 7 without.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
