"""SparkSession factory.

The reference forces TZ=UTC process-wide (settings.py:112-114) because
its tables use ``timestamp without time zone`` that is semantically UTC.
We encode the same decision as session configs instead of mutating the
environment, and turn on the Spark features a large cluster needs:
AQE (runtime coalesce/skew-join), Arrow for any pandas-UDF hops, and a
shuffle-partition count sized for the local test harness (on a real
cluster AQE coalesces these; the initial number should be ~2-3x cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "neynar-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor (round-10, guide §2.2/§2.5): with
        # parallelismFirst (default on) AQE targets
        # max(shuffleBytes/defaultParallelism, minPartitionSize), so the
        # 1 MiB default floor collapses any shuffle carrying < cores MiB
        # to a handful of partitions — which serializes compute-dense
        # stages (pair verification, wedge joins, Levenshtein cores)
        # whose cost is super-linear in ROWS, not bytes. 64 KiB keeps
        # those stages at ~cores-wide parallelism; at cluster scale
        # bytes/parallelism >> 1 MiB, so the floor is inert there —
        # scale-adaptive by construction, env-overridable for clusters
        # that want the stock value. Measured (r10 A/B, 37-query heavy
        # subset, fresh JVM per config, min of 2): 141.3 s -> 119.5 s.
        # Re-validated in the r11 four-arm decomposition
        # (OPTIMIZATION_r11.md): this floor alone is within noise of stock on
        # the 32-query small set (27.0 vs 26.7 s; tpch22 15.4 vs 15.6)
        # and carries the heavy-family win (61.5 vs 64.6 s) — the r10
        # small-query tax came from the open-cost floor, reverted below.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_BYTES", "64k"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 128 MiB splits: one task per HDFS-block-sized slice of parquet;
        # at 100 TB this yields ~800k tasks, the right granularity for a
        # 1000-executor cluster (not config'd per-file like the reference's
        # one-thread-per-row-group model).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Scan-split open cost: STOCK 4 MiB (round-11 revert of the
        # round-10 128 KiB floor). The r10 floor split every sub-128 MiB
        # file cores-wide, which helped scan-rooted dense compute — but
        # the r11 four-arm interleaved same-JVM A/B (OPTIMIZATION_r11.md:
        # stock / r10 / aqe-floor-only / open-floor-only over 32 small +
        # 24 heavy queries, 4 passes, arm order rotated) showed the
        # open-cost floor was the ENTIRE small-query tax the r10 bench
        # measured (tpch22: stock 15.6 s,
        # open-floor 18.0, both-floors 18.5, aqe-floor-only 15.4) while
        # the AQE floor below alone captures the heavy-family win
        # (heavy-24: stock 64.6 s, aqe-only 61.5, both 61.2): extra
        # mostly-empty scan tasks on single-row-group KB files tax every
        # query, and the dense cores the floor used to widen are covered
        # operator-side by fan_out. Env knob kept for deployments that
        # measured a different trade.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner releases shuffle files / broadcast blocks only
        # when the DRIVER GCs; the default periodic-GC interval (30 min)
        # lets a long query sequence accumulate enough dead blocks to
        # squeeze execution memory (measured: mid-bench slowdowns that
        # vanish after a GC). 5 min bounds the buildup without measurable
        # pause cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
