"""SparkSession factory.

Local testing runs on ``local[N]`` (single JVM); the configuration is chosen
so the same code is correct and fast on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from
  observed shuffle statistics.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this should be ~2-3x total executor cores (AQE coalesces
  down, it never splits a too-small setting).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (pandas_udf / applyInPandas /
  toPandas) — the only acceptable Python boundary.

A note on ``localCheckpoint`` (ADVICE r10): the plans use eager local
checkpoints to truncate lineage of small re-derived subtrees (iterates,
dimension-sized artifacts). Local checkpoints are NON-RELIABLE — on a
real cluster, losing an executor (failure, dynamic-allocation
decommission) makes the truncated lineage unrecoverable and fails the
query, which then re-runs from source. That is the right trade for
ephemeral intra-query scratch whose blocks live seconds-to-minutes; a
deployment that needs per-executor fault tolerance mid-query should
swap these for ``persist(StorageLevel.MEMORY_AND_DISK)`` + an action,
or reliable ``checkpoint()`` to cluster storage — same plans, higher
materialization cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "gee_datapipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_scratch(spark: SparkSession) -> int:
    """Unpersist every persisted / locally-checkpointed RDD still
    registered with the session's block manager.

    Iterative queries (PageRank, connected components, k-means, Q11)
    eagerly ``localCheckpoint`` intermediate tables to truncate lineage;
    those blocks stay in the block manager until the JVM garbage-collects
    the last reference. In a long-lived session running many queries
    back-to-back the dead scratch accumulates, and on a bounded driver
    heap the resulting GC pressure surfaces as latency in *later,
    unrelated* queries. Call between jobs (never mid-query — the blocks
    are live until the consuming action finishes). Files the jobs wrote
    are not block manager state, so this never touches them.

    Returns the number of RDDs released."""
    import gc

    # Drop Python-side DataFrame references first so py4j finalizers
    # release their JVM handles and the unpersist below reaches every
    # dead block.
    gc.collect()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = len(rdds)
    for rdd in rdds.values():
        rdd.unpersist(False)
    return n
