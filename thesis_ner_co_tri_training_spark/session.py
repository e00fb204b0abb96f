"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs are proxies for cluster settings: shuffle partitions are
sized to cores (not the 200 default), AQE is on so skewed agreement joins
and LSH bucket joins re-plan at runtime, and Arrow is on because every
Python-side operator in this engine is a vectorized pandas UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg_construct",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    cpus defaults to $SPARK_GRAFT_CPUS or 32 (the sandbox local[32] box).
    shuffle_partitions defaults to cpus — on a real cluster this would be
    ~2-3x total executor cores; the pipeline additionally repartitions
    explicitly before its heavy joins (salted on domain/entity keys).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM",
                                "8g" if cpus <= 8 else "16g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Cluster-realistic heap: executors run 8-16g in production, and a
        # right-sized heap + throughput GC measurably beats one huge lazily
        # committed heap here (page-fault/GC churn at high thread counts:
        # 48g+G1 showed 26-47s on the 60k-page KG job vs 19s with 8g+Parallel).
        # Scaled with thread count: 32 concurrent tasks allocate ~4x faster
        # than 8, and the STAGED pipeline (full materialization per stage)
        # measured 82s -> 68s at 240k pages/32c moving 8g -> 16g — the 8g
        # tuning was done on the fused DAG, which allocates far less.
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split sizing: the cluster default (128MB splits, 4MB open cost) is
        # right for a 100TB corpus where splits are plentiful, but packs this
        # sandbox's KB-scale parquet files into 1-4 partitions, serializing
        # every narrow stage downstream of the scan. Local proxy: small
        # splits so task granularity matches what a real cluster sees.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(2 * 1024 * 1024)))
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        # saveAsTable (bucketed tables) default placement: keep managed
        # tables out of the process cwd (static conf — must be set here,
        # not at runtime). catalog.write_bucketed callers can still place
        # tables explicitly via CREATE DATABASE ... LOCATION.
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark_sql_warehouse"))
        # Generated-code cache sized to the engine's working set. Ops,
        # append batches, crawl cycles and stream micro-batches rerun
        # the same plans in one session, but Spark's LRU keeps only 100
        # classes. Measured at 4 cores: one 500-page run_pipeline
        # compiles 124 distinct classes and one pass over the six
        # query_mix entries 161, so a warm rerun recompiled 117-120 and
        # 156 of them (Janino, on the driver, on the critical path).
        # One pass over all 82 queries() at sf0.01 compiles 1,501
        # classes (2,490 with stage ids in class names), so 2048 holds
        # every working set measured. The cache is built once per JVM,
        # from the session that compiles the first class.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Identical whole-stage pipelines share one class whatever their
        # stage id, e.g. the per-snapshot-dir scans that catalog.
        # _read_paths unions, whose ids shift as batches add branches.
        # explain() still prints the *(id) markers.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Force the one-time ICU case-mapping class init
    # (CollationAwareUTF8String.<clinit>, loaded on the first non-ASCII
    # lower()/upper()). Left to first use, it fires inside a 32-thread
    # stage where ONE task runs the heavyweight static init while every
    # other task blocks on the class-init lock — observed as a flaky
    # 25-58s stall on whichever lower()-heavy stage ran first (thread
    # dump: CollationSupport$Lower.execBinaryICU ->
    # CollationAwareUTF8String.<clinit>, all other executors parked).
    # Touching it here is single-threaded and off every timed path.
    spark.sql("SELECT lower('İÄßΣ'), upper('ıäßς'), initcap('ärger')").collect()
    _warn_if_heap_undersized(spark, driver_mem)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled so far in this JVM: the count of Spark's
    CodegenMetrics compilation-time histogram, one sample per generated
    class compiled (a code-cache miss). A counter read, so no job and no
    scan; take the difference around a run. A warm rerun of plans the
    session has already run reads 0."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _warn_if_heap_undersized(spark: SparkSession,
                             want: str | None = None) -> None:
    """spark.driver.memory set via the builder only applies when THIS
    process launches the JVM (plain `python` entry). Under spark-submit
    the driver JVM is already running, the conf is silently ignored, and
    local-mode jobs run on spark-submit's 1g default — measured: the
    240k-page pipeline OOMs its parquet writers at 32 cores. Can't be
    fixed from here (the JVM is up); warn so the operator passes
    `--driver-memory $SPARK_DRIVER_MEM` (jobs/bench_pipeline_e2e.py
    does; small smoke runs are fine at 1g)."""
    want = (want or os.environ.get("SPARK_DRIVER_MEM", "8g")).strip().lower()
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    try:
        # a digit-only spec is MiB, matching how Spark itself reads
        # spark.driver.memory (bytesConf(ByteUnit.MiB)) — parsing it as
        # bytes would silently suppress the warning for e.g. "8192"
        want_bytes = (float(want[:-1]) * units[want[-1]]
                      if want[-1] in units else float(want) * 2**20)
    except ValueError:
        return
    try:
        got = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:
        return  # no JVM handle (e.g. Spark Connect) — nothing to check
    # The failure mode this catches is the silent spark-submit 1g
    # DEFAULT; an operator who explicitly passed --driver-memory 8g on
    # a 32-cpu host (want=16g) made a deliberate choice and must not be
    # trained to ignore the warning — so only heaps that look like the
    # unconfigured default (< 4g) fire it.
    if got < 0.7 * want_bytes and got < 4 * 2**30:
        msg = (
            f"driver JVM heap is {got / 2**30:.1f}g but "
            f"spark.driver.memory wants {want} — launched via "
            f"spark-submit? Builder-set driver memory cannot apply to an "
            f"already-running JVM; pass --driver-memory {want} on the "
            f"spark-submit command line for large inputs.")
        try:
            # Through the JVM logger, NOT python stderr: under
            # spark-submit, PythonRunner merges the python process's
            # stderr into the job's STDOUT, which would corrupt the
            # jobs' one-JSON-line stdout contract.
            (spark._jvm.org.apache.logging.log4j.LogManager
             .getLogger("kg_construct.session").warn(msg))
        except Exception:
            import sys

            print(f"WARNING: {msg}", file=sys.__stderr__)
