"""SparkSession factory with scale-appropriate defaults.

The reference engine is a single-threaded CPython process that loads
whole CSV files into RAM (SURVEY.md §3.1/§4.1); our equivalent of its
"runtime setup" is a SparkSession tuned so the same logical queries
run distributed: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (fast JVM<->Python batches for the
pandas-UDF paths), UTC session time so event-time windows are
deterministic across engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def cluster_conf(
    total_cores: int,
    input_bytes: int,
    executor_mem_bytes: int = 16 * 1024**3,
    target_partition_bytes: int = 128 * 1024**2,
) -> dict[str, str]:
    """Recommended Spark conf for a real cluster run at a given scale —
    the local[32] defaults above don't transfer to 1000 executors, and
    these formulas are the transfer function:

    - ``shuffle.partitions``: enough that a shuffle partition of the
      full input fits comfortably in a task (~``target_partition_bytes``
      post-shuffle), floored at 2× total cores so every core has work
      even for small intermediate results. AQE coalescing then shrinks
      small stages at runtime — oversizing is cheap, undersizing spills.
    - ``files.maxPartitionBytes``: scan split size; 128 MB matches
      parquet row-group economics.
    - ``autoBroadcastJoinThreshold``: ~1% of executor memory — a
      broadcast table is resident on EVERY executor, so this scales
      with executor memory, not data size.
    - AQE on (coalescing, skew-join splitting) — the runtime safety
      net for estimate misses in all of the above.
    """
    by_size = input_bytes // target_partition_bytes
    shuffle_parts = max(2 * total_cores, by_size, 1)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(executor_mem_bytes // 100),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }


def get_spark(
    app_name: str = "mini_sql_engine_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or
    ``local[*]``. ``spark.sql.shuffle.partitions`` defaults to 32 —
    sized to local cores; on a real cluster this should be ~2-3× total
    executor cores (or left to AQE coalescing, which is enabled).

    The generated-class cache holds 1000 classes, so a session that
    cycles through many different queries compiles each class once,
    not once per cycle. The cache is JVM-wide and takes its size from
    the session that first generates code in the process.

    The status stores keep the last 20 SQL executions and 100 jobs
    and stages, so the driver heap does not grow with the number of
    queries a long session runs.

    The SQL warehouse defaults to one fixed directory under the system
    temp dir, so a session never creates ``spark-warehouse/`` in the
    caller's working directory; ``extra_conf`` may set its own.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # Python WORKERS inherit PYTHONPATH, not the driver's runtime
    # sys.path edits: a caller that found this package via
    # sys.path.insert (a harness running from another cwd) would get
    # "ModuleNotFoundError: mini_sql_engine_spark" when workers
    # unpickle pandas-UDF closures referencing the package. Export the
    # repo root before the first worker is forked.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # The generated-class cache is a segmented LRU (4 segments of
        # maxEntries / 4 each), so at the default of 100 it evicts well
        # before it holds 100 classes: a mixed pass of the 15 sql_adhoc
        # benchmark keys at sf0.01 (98 distinct classes) recompiled
        # 24-34 of them on every repeat, at 6-9 ms each (4 vCPUs). At
        # 1000 a repeat compiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The status stores keep every finished SQL execution with its
        # plan graph, and every job and stage with its tasks, up to
        # 1000 each, even with the UI off; nothing in the engine reads
        # them. Live driver heap after full GCs over build+execute
        # passes of the 7 llm_dedup keys at sf0.001 read 70.6 / 76.6 /
        # 89.4 / 99.7 / 114.9 MB after 1 / 5 / 20 / 40 / 80 passes at
        # the defaults, and 70.6 / 75.8 / 83.4 / 86.6 / 86.1 MB with 20
        # executions retained (4 vCPUs). Over 4 cheap sql_adhoc keys
        # the job and stage records then still grew the heap 67.5 ->
        # 76.3 MB over 160 passes, against 67.5 -> 74.5 MB, flat after
        # pass 120, with 50 of each retained.
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as raw nanos and convert in the catalog
        # (truncation to µs — matches DuckDB's ns→µs behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(
            tempfile.gettempdir(), "mini_sql_engine_spark-warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
