"""SparkSession factory with the engine's standard configuration.

Single place where scale-relevant knobs live: AQE (runtime re-planning
+ skew-join splitting, replacing the reference's manual salting in
``TypeAttacher.scala:20,25``), Arrow for pandas UDFs (the NLP hot
path), and shuffle-partition sizing. On a real cluster the same
settings apply via ``spark-submit --conf``; ``local[K]`` is only the
sandbox harness.

The codegen cache (``spark.sql.codegen.cache.maxEntries``, static, so
it can only be set here) holds 1000 compiled classes instead of
Spark's default 100. Spark compiles every generated class with Janino
and keeps it in one LRU cache per JVM; a repeated pass that finds its
classes there compiles nothing. The working sets, counted as the
growth of ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count with a
100000-entry cache, on a 4-core host:

- ``kgbench/run.py --workload kg_build --seed 1 --trace 1``, the whole
  run with its serve and ingest probes: 374 (35 of them the session
  prewarm below; one build alone needs about 205).
- ``kgbench/run.py --workload corpus_dedup --seed 1``: 190 (one pass
  alone needs 131-155).
- ``bench.py`` at sf0.1, the suite in one session: 193.

At 100 entries every pass evicted its own classes before their next
use, so each repeated pass recompiled all of them, and the JIT then
compiled the new classes again: a ``corpus_dedup`` pass took 13.5
CPU-s with the old size and 8.7 with this one (BENCH/CODEGEN.md).
1000 is over twice the largest working set. The cache is keyed
by class loader as well as source, so a local session can hold a class
twice; the counts above include that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Start the Python worker pool once, at session creation.

    Worker creation goes through the daemon's single accept loop —
    measured 1.27 s of per-task "time to start Python workers" on the
    first Python stage of a cold session (event-log accumulators,
    scripts/cpu_attrib.py). A long-lived session (cluster executors,
    the local harness alike) wants that pool up BEFORE the first real
    query, exactly like executor JVMs are started ahead of work. One
    trivial mapInPandas over ``defaultParallelism`` single-row
    partitions forks a worker per task slot; ``spark.python.worker.reuse``
    (default on) then keeps them for every later Python stage.
    Best-effort: a failure must never block session creation.
    """
    try:
        n = spark.sparkContext.defaultParallelism

        def _touch(batches):
            for b in batches:
                yield b

        (
            spark.range(n, numPartitions=1).repartition(n)
            .mapInPandas(_touch, "id long")
            .write.format("noop").mode("overwrite").save()
        )
        # also warm the shared JVM machinery every real query uses —
        # Janino/codegen compilation, Tungsten sort/hash-agg, window
        # and join operators, the AQE loop — on a few thousand
        # synthetic rows. This compiles the FRAMEWORK (shared classes
        # + the compiler itself), not any query's specific plan; the
        # first real query of a fresh process otherwise pays it.
        from pyspark.sql import Window, functions as F

        base = spark.range(8192).select(
            F.col("id"), (F.col("id") % 63).alias("k"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        dim = base.groupBy("k").agg(F.max("s").alias("m"),
                                    F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("k").orderBy("s")
        (
            base.join(dim, "k")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .groupBy("k").agg(F.sum("id").alias("t"))
            .write.format("noop").mode("overwrite").save()
        )
        # parquet reader/writer classes (footer, column readers,
        # vectorized batch path) — the other framework surface every
        # real query touches first
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="spark_prewarm_")
        try:
            dim.write.mode("overwrite").parquet(tmp + "/p")
            spark.read.parquet(tmp + "/p").write.format("noop") \
                .mode("overwrite").save()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception:
        pass


def get_spark(
    app_name: str = "openie-backend-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster AQE coalesces down from a
        # larger initial number, so this is a floor not a tuning knob
        shuffle_partitions = max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # warm-fork daemon: heavy imports + NLP model parse happen once
        # in the daemon, forked workers inherit them (see warm_daemon.py;
        # measured 18.3→~4 s cold kg_spo). Scale-independent: the same
        # per-worker startup tax exists on any executor.
        .config("spark.python.daemon.module",
                "openie_backend_spark.warm_daemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # experiment hook only (CDS / JIT / GC A-Bs); default empty
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JVM_OPTS", ""))
        .config("spark.sql.session.timeZone", "UTC")
        # static conf: sized past one pass's generated classes (see the
        # module docstring for the measured working sets)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not getattr(spark, "_openie_prewarmed", False):
        _prewarm_python_workers(spark)
        spark._openie_prewarmed = True
    return spark
