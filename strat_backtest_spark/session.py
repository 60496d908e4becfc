"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (every kernel crosses the Python boundary in
columnar batches), UTC session timezone (oracle comparisons and
cross-engine determinism), shuffle partitions sized to the machine
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "strat_backtest_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything else here is cluster-appropriate as-is.
    ``cpus`` defaults to ``SPARK_GRAFT_CPUS`` as set at call time, else 32.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, NOT bigger: the interpreted higher-order-function paths
        # (minhash/shingles) allocate heavily, and a ≥32g heap shifts
        # G1 into a regime that ran them 25-40× slower on this JVM
        # (measured: q22 sf0.1 = 1.7s @16g vs 50.7s @48g). 16g is
        # ample for local bench scales; real clusters size executors,
        # not the driver, anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # bucketed tables (sources/bucketed.py) go through saveAsTable;
        # keep the warehouse out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Large parquet scans: bigger row-group-aligned splits amortize
        # task overhead at 100 TB; local testdata is tiny either way.
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Let the planner pick shuffled-hash join when its size checks
        # pass (guide: sort-merge always works but pays two sorts; SHJ
        # skips them when one side's per-partition build fits). Scale-
        # neutral: the size conditions, not this flag, decide per join
        # — measured q02 (fact-to-fact orderkey join) 1.27 s -> 0.93 s
        # same-session A/B at sf0.1; oracle hashes unchanged at all SFs.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Read TIMESTAMP(NANOS) parquet (Spark has no ns timestamp type)
        # as raw LongType nanos; sources convert to micros explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4's error-context capture walks the Python stack and
        # round-trips the call site to the JVM on EVERY decorated
        # DataFrame/Column API call — pure driver-side overhead in plan
        # construction (guide §5: the driver should do almost no work),
        # measured as a visible slice of the expression-heavy backtest
        # builds. Costs only the "user code line" hint in error
        # messages; the JVM error itself is unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
