"""Scale-layout tests: Z-order locality, bucketed co-located joins
(the shuffle-elimination tools for the 100 TB design)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.functions.geo import z_order_key

from conftest import SF_SMOKE


def test_z_order_key_locality(spark):
    """Adjacent cells differ in few low bits; distant cells differ high:
    check the interleave against hand-computed Morton codes."""
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (3, 3)], ["x", "y"]
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", z_order_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    assert got == {
        (0, 0): 0b0000,
        (1, 0): 0b0001,
        (0, 1): 0b0010,
        (1, 1): 0b0011,
        (2, 2): 0b1100,
        (3, 3): 0b1111,
    }


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key pre-co-locates them: the
    join plan must contain NO Exchange (shuffle) above the scans —
    the steady-state layout for repeated fact-fact joins at 100 TB."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b"))
        .saveAsTable("li_b")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "orders_b"))
        .saveAsTable("orders_b")
    )
    joined = spark.table("li_b").join(
        spark.table("orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # disable broadcast so the co-location is what's being tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning gate: a date-partitioned fact joined to
    a filtered dimension must get a runtime partition filter (Spark's
    ``dynamicpruning`` subquery on the scan) — at 100 TB this is the
    difference between scanning 3 partitions and scanning 3 years. The
    partitioned-layout write is the same per-day layout the driver
    scripts' month-keyed exports produce."""
    from gee_datapipeline_spark.catalog import load_table

    events = load_table(spark, SF_SMOKE, "events")
    fact_path = str(tmp_path / "events_by_day")
    fact = events.withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    fact.write.partitionBy("day").parquet(fact_path)

    fact_p = spark.read.parquet(fact_path)
    n_days = fact_p.select("day").distinct().count()
    assert n_days > 3

    # Dimension: a filtered, broadcastable day attribute table. The
    # filter is NOT on the fact, so only DPP can prune the scan.
    dim = (
        fact_p.select("day").distinct()
        .withColumn("dow", F.dayofweek(F.to_date("day")))
    )
    dim_path = str(tmp_path / "day_dim")
    dim.write.parquet(dim_path)
    dim_p = spark.read.parquet(dim_path).filter(F.col("dow") == 2)

    joined = fact_p.join(F.broadcast(dim_p), "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # Correctness: identical to pushing the day list manually.
    keep = [r["day"] for r in dim_p.select("day").distinct().collect()]
    direct = (
        fact_p.filter(F.col("day").isin(keep))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_spread_scan_width_floor(spark, tmp_path):
    """r11 (VERDICT r10 item 2): spread_scan never fans a sub-MB source
    out wider than ~32 KB of input per task — near-empty task waves
    amplify host contention without buying compute parallelism. A
    source big enough for real splits still spreads to the full core
    count, and a source that already splits >= cores is left alone."""
    from gee_datapipeline_spark.catalog import (
        _SPREAD_MIN_TASK_BYTES,
        spread_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(10).toDF("x")

    # no byte hint -> conservative no-op
    assert spread_scan(df, spark) is df

    # tiny source: width floored at bytes // 32KB (>= 2)
    small = spark.range(10).toDF("x")
    small._graft_scan_bytes = 5 * _SPREAD_MIN_TASK_BYTES
    got = spread_scan(small, spark)
    assert got.rdd.getNumPartitions() == min(cores, 5)

    # sub-2-task source still gets the minimum pair of tasks
    tiny = spark.range(10).toDF("x")
    tiny._graft_scan_bytes = 100
    assert spread_scan(tiny, spark).rdd.getNumPartitions() == 2

    # big-but-unsplittable source: full core count
    big = spark.range(10).toDF("x")
    big._graft_scan_bytes = cores * _SPREAD_MIN_TASK_BYTES * 100
    spread = spread_scan(big, spark)
    assert spread.rdd.getNumPartitions() == cores

    # source with enough real splits: untouched
    huge = spark.range(10).toDF("x")
    huge._graft_scan_bytes = 1 << 40
    assert spread_scan(huge, spark) is huge


def test_parse_bytes_hardening():
    """ADVICE r10: t/p suffixes parse; junk degrades to the 128 MB
    default instead of raising inside plan construction."""
    from gee_datapipeline_spark.catalog import _parse_bytes

    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1t") == 1 << 40
    assert _parse_bytes("2p") == 2 << 50
    assert _parse_bytes("1048576") == 1 << 20
    assert _parse_bytes("not-a-size") == 134217728
