"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: AQE on (runtime coalesce + skew-join split), shuffle partition
count matched to parallelism, Arrow transfer for the vectorized token
kernels, UTC session timezone so parquet timestamps compare stably
against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None = None) -> str:
    """Local-mode driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    the smaller of 24g and a third of the host's physical memory (in MB,
    at least 1g). In local mode the driver heap holds every task's working
    set, and a 24g heap on a 16 GB host lets the JVM grow until the host
    runs out of memory. ``phys_bytes`` stands in for the host's memory
    (read from ``os.sysconf``); 24g when it cannot be read."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return "24g"
    return f"{max(1024, min(24 * 1024, phys_bytes // 3 // 2**20))}m"


def get_spark(
    app_name: str = "rap-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    n_executors: int | None = None,
    executor_mem_mb: int = 6144,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls local[N]; default comes from $SPARK_GRAFT_CPUS or
    all cores. ``shuffle_partitions`` defaults to 2x parallelism — small
    enough to avoid tiny-task overhead locally, and AQE coalesces
    further at runtime. On a real cluster these would scale with
    executor count; nothing here is local-mode-only logic.

    ``n_executors`` switches to Spark's ``local-cluster[N, cpus, mem]``
    mode: N SEPARATE EXECUTOR JVMs (own heaps, own GC, own Python worker
    pools) with ``cpus`` cores each — the honest single-machine proxy for
    an N-executor cluster, and the mode the bench uses to demonstrate
    N->4N scaling without the single-heap allocation wall local[N] has.
    Requires SPARK_HOME (set from the bundled pyspark install if absent).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if n_executors is not None:
        total_cores = n_executors * cpus
        master = f"local-cluster[{n_executors},{cpus},{executor_mem_mb}]"
        if "SPARK_HOME" not in os.environ:
            # executor launch needs spark-class; the pip pyspark package
            # ships it — fall back to the full distribution if present
            import pyspark

            cand = os.path.join(os.path.dirname(pyspark.__file__))
            os.environ["SPARK_HOME"] = (
                "/opt/spark-4.1.2-bin-hadoop3"
                if os.path.isdir("/opt/spark-4.1.2-bin-hadoop3")
                else cand
            )
    else:
        total_cores = cpus
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * total_cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory())
        # ParallelGC: the token-array payloads allocate heavily in scans and
        # aggregations; G1 at high thread counts spent more time pacing than
        # collecting here (measured 2-4x slowdowns at local[32]).
        # Override with SPARK_GRAFT_JAVA_OPTS for GC experiments.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # hash joins over sort-merge where legal: CDC winner-join and merge
        # joins are selective; sorting the big side is wasted work (AQE can
        # still demote to broadcast at runtime)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Python worker crash diagnostics (no steady-state cost): this VM
        # intermittently kills workers mid-synthesis; with these on, a real
        # fault prints the worker's Python traceback instead of a bare EOF
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column/DataFrame call: with it on,
        # every F.col/alias/when pays an active-session lookup, a conf read
        # and two origin set/clear round trips to the JVM plus a stack walk
        # — 64% of a small CDC batch's py4j calls (22.6k -> 8.1k over 8
        # batches, 1.85 -> 1.53 s/batch, 4 vCPU). Errors still carry the
        # JVM query context; only the Python file:line hint is dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # never write progress bars to stdout: the bench/driver contract
        # reserves stdout for one-line JSON results (round-1/2 artifacts
        # show \r-progress frames flooding the driver's captured tail)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # deterministic timestamp behavior for oracle comparison
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    if n_executors is not None:
        builder = (
            builder.config("spark.executor.memory", f"{executor_mem_mb - 512}m")
            # G1 for multi-JVM executors, measured on the CDC replay: with
            # several ParallelGC executors side-by-side the full-width scan
            # collapsed into a GC storm (stage GC time ~8x CPU time, ~99%
            # kernel time on this virtualized host) — 4x8 ran 3-5x SLOWER
            # than 1x8. G1's incremental regions keep each heap's pause work
            # bounded: 4x8 went 65s -> 17s. (Single-JVM local mode keeps
            # ParallelGC — measured better there; see the driver config.)
            .config(
                "spark.executor.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS_EXECUTOR", "-XX:+UseG1GC"),
            )
            # multi-JVM mode needs no host-sized driver heap — executors hold the data
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM_LC", "8g"))
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
