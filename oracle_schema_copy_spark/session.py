"""SparkSession factory tuned for this engine.

Used by tests and bench; the verification driver passes its own session
into ``__spark_entry__`` functions, so nothing here is required at query
time — but the configs below document the intended cluster posture:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions sized to the local core count (on a real cluster this
  would be ~2-3x total cores; AQE coalesces small ones anyway)
- Arrow enabled for the few pandas-UDF paths (vectorized Python)
- nanosAsLong so parquet TIMESTAMP(NANOS) columns (events.ts) are readable
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tuning_confs(cpus: int) -> dict[str, str]:
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python UDTF output rides Arrow too (functions/udtfs.py)
        "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        # dim tables (region/nation/customer at test SFs) stay broadcast-able
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        "spark.sql.files.maxPartitionBytes": "128MB",
        # NOTE: do NOT force fixture scans to split (row-group re-chunking
        # + a lower openCostInBytes were tried in r14 and REVERTED): with
        # 10-15 MB tables the 32-way scans measured 11-141% SLOWER per
        # query at 32 cores (BENCH_r14_split_probe.json vs
        # BENCH_r14_before.json) — per-stage fixed costs dominate tiny
        # scans, the same finding as r13's repartition-after-scan A/B.
        # CPU-heavy operators repartition explicitly instead
        # (operators.spread).
        # local[N] runs all N executor threads inside the driver JVM — an
        # undersized heap turns shuffle/agg working sets into GC storms
        # (observed: same query 5.6s vs 63s run-to-run at 8g). On a real
        # cluster this maps to executor memory, not driver.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # ParallelGC, not the Java-17 default G1: with a large heap and 32
        # executor threads, G1's first-touch behavior produced a 30-60×
        # cold-run cliff (measured: the same 1.2s query taking 66-194s on
        # its first execution under G1, stable 1.1-2.0s under ParallelGC).
        # Batch/throughput executors don't need G1's pause targets.
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC " + os.environ.get("SPARK_GRAFT_EXTRA_JAVA", "")
        ).strip(),
        # collect_list/collect_set aggs use ObjectHashAggregate, which falls
        # back to sort-based aggregation after 128 distinct groups per
        # partition by default — posting-list builds (dedup) have 10⁴-10⁶
        # groups per partition and never want the sort. An sf10 A/B
        # (OPTIMIZATION_r13.md §6) showed the bound never engages even at
        # the 100× fixture (shingle universe stays under 128k
        # groups/partition, zero spill either way) — the dedup stages' GC
        # load is allocation churn (collect_list buffer growth), not a
        # too-large live map.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "4194304",
    }


def get_spark(app: str = "oracle-schema-copy-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in tuning_confs(cpus).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
