"""SparkSession factory tuned for the huracan-spark engine.

Local-mode defaults mirror the parallelism knobs of the reference
(worker pools, `main/config.yaml:36-39,59-62`) but expressed the Spark
way: shuffle partitions + AQE instead of hand-sized channel pools.
All settings are cluster-safe: on a real cluster the master/memory
settings are supplied by the submitter and these become no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 90g.  A heap larger
    than the host lets the JVM grow until the kernel OOM-kills it (and
    the Python session with it); a heap sized to the host fails inside
    the JVM instead, with room left for Python workers and a second
    JVM."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "90g"
    return f"{min(90 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "huracan-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing + skew-join handling stand in for the
      reference's hand-tuned batch sizes (`main/config.yaml:41-45`).
    - shuffle.partitions sized to cores locally; on a cluster AQE
      re-plans from this initial number anyway.
    - Arrow on: every Pandas-UDF path (enrichment, embeddings) is
      Arrow-batched, never row-at-a-time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    init_parts = os.environ.get("SPARK_GRAFT_INIT_PARTITIONS")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffle WIDTH is a deployment-scale parameter (like driver
        # memory): SPARK_GRAFT_INIT_PARTITIONS sets AQE's
        # initialPartitionNum so corpus-sized shuffles start wide and
        # coalesce down.  Measured round 9 at the 100x decade fixture
        # (sf100, 15 GB) with width 512: tpch_q18 364 s -> 62 s
        # (exp 1.50 -> 1.03), tpch_q21 242 s -> 40 s — the static
        # 32-wide shuffle crossed the per-task memory/spill cliff and
        # went super-linear.  NOT defaulted on: at fixture scale the
        # many-tiny-exchange iterative queries pay real map-side cost
        # for wide bucketing (triangle_count_nations 2.3 s -> 8.1 s at
        # 512, still 4.7 s at 128 — A/B'd), so the right width tracks
        # the data scale, exactly as on a real cluster where
        # default parallelism (executors x cores) plays this role.
        # Scale rehearsals set the SAME width on both sides of a
        # decade so exponents stay config-clean.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # PySpark 4's DataFrame debugging wraps EVERY DataFrame API call
        # with a conf.get RPC + Python traceback walk + a JVM
        # PySparkCurrentOrigin.set RPC (pyspark/errors/utils.py) — three
        # Py4J round-trips where one suffices, purely to enrich error
        # messages with call-site context.  Measured driver-side via
        # cProfile on the silver merge path (r11): _capture_call_site
        # alone was ~6% of a drive's wall.  Off: results identical,
        # errors lose only the "line N in file" context line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache (default 100 entries, evicting per
        # segment before it is full) is smaller than the ingest
        # pipeline's distinct plans, so Janino re-compiled the same
        # classes over and over: ~54 compiles in every repeat of a warm
        # 3-chunk backfill pass (97 distinct entries), ~470 in 40 s of
        # live ingest (~150 entries after set-up, then ~1 new one per
        # second).  At 256: 0 and ~32, with least-recently-used
        # eviction bounding a long-running stream.  Metaspace after GC
        # read 162 / 176-178 MB at both sizes (4 vCPU).
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # TESTDATA events.parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long (ns) and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (Spark's legacy timestamp encoding) records NO parquet
        # column statistics, so time-range scans could never skip files.
        # Write modern INT64 micros (what Delta/Iceberg write) so the
        # silver footer-stats skipping can prune on timestamp columns.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if init_parts:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            init_parts,
        )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (
            builder.master(f"local[{cpus}]")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory(),
            )
            # Whole-stage codegen emits a fresh class per plan; a long
            # session running hundreds of distinct queries fills the
            # default 240 MB JIT code cache, after which HotSpot stops
            # compiling and EVERY subsequent query runs interpreted
            # (~2-3x slower — measured on the 188-query bench suite).
            # A 1 GB reserve keeps the JIT alive for the whole suite.
            # Driver == executor in local mode; on a cluster set the
            # same via spark.executor.extraJavaOptions.
            .config(
                "spark.driver.extraJavaOptions",
                os.environ.get(
                    "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                    "-XX:ReservedCodeCacheSize=1g",
                ),
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
