"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every config here is chosen so the same plan shapes survive a
multi-executor cluster at ~100 TB:

- AQE on (runtime partition coalescing, skew-join splitting).
- Arrow transfer on (the JVM<->Python boundary is our analog of the
  reference's unified CPU/GPU memory — see SURVEY.md §1.4).
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the
  DuckDB oracle.
- Shuffle partitions default to the local core count; on a real
  cluster this should be ~2-3x total executor cores (set via env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "faiss-metal-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one BLAS thread per Python worker: task-level parallelism
        # already saturates the cores, and nested BLAS threading across
        # 32 workers oversubscribes (measured: up to 1.5× tail latency
        # on the 768/1536-dim GEMM benchmarks)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    return builder.getOrCreate()

