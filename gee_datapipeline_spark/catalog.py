"""Table catalog over the driver-provided parquet test data.

``TESTDATA.md``: each scale-factor directory holds one parquet file per
table. Loading is centralized here so every query sees the same source
relation (one place to attach bucketing / sorting / caching decisions later).

At 100 TB these would be partitioned/bucketed catalog tables; the loader
keeps the indirection so the physical layout can change without touching
any operator code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Filters/projections compose on top and are
    pushed into the parquet scan by Catalyst.

    ``events`` is stored with nanosecond timestamps, which Spark's parquet
    reader rejects (PARQUET_TYPE_ILLEGAL). We read nanos as raw INT64 via
    the legacy conf and rebuild the timestamp at microsecond precision —
    truncating, exactly as DuckDB does when it narrows ns → µs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df._graft_scan_bytes = _source_bytes(path)
        return df
    df = spark.read.parquet(path)
    # Source-size hint for spread_scan's unsplittable-input guard: a
    # pure os.stat at load time, so the guard never pays a per-query
    # plan/IO probe (df.rdd / inputFiles() cost ~0.1 s per call —
    # measured r10 — which is real money on sub-second queries).
    df._graft_scan_bytes = _source_bytes(path)
    return df


def _source_bytes(path: str) -> int | None:
    """Total bytes under a local file/directory source; None when the
    path isn't a local filesystem object (object stores, HDFS — where
    the guard should conservatively no-op). Only ``*.parquet`` files
    count inside a directory (ADVICE r10: ``_SUCCESS``/``.crc``
    metadata would inflate the split estimate)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
            return total
    except OSError:
        pass
    return None


def spread_scan(
    df: DataFrame, spark: SparkSession, *keys: str
) -> DataFrame:
    """Unsplittable-input guard (optimization guide §2.5, "one huge
    unsplittable file"): when the source layout yields fewer scan
    splits than the session has cores, every row lands in one task and
    the whole first stage — tokenize, digest, decimal accumulation —
    runs single-threaded no matter how many cores exist. That is
    exactly the shape of this repo's test parquet (ONE row group per
    file: byte-range splits exist but only the split containing the
    row-group start produces rows). Spread the rows once, cheaply,
    BEFORE the heavy per-row work.

    Scale-adaptive by construction, not a local[32] constant: the
    trigger compares the scan's actual split count against
    ``defaultParallelism`` (local: the core count; cluster: total
    executor cores), so a production table with hundreds of row groups
    takes the no-op branch and keeps map-side partial aggregation
    unshuffled. With ``keys`` the spread hashes on those columns
    (deterministic under task retry — the guide's §2.5 caveat about
    round-robin applies only to non-deterministic inputs, but a keyed
    spread also skips the sort-before-repartition pass); without keys
    it round-robins.

    Call this only where stage-1 per-row work dominates the scan (the
    shuffle moves every surviving row once); a plain scan→tiny-agg
    query keeps its single pass.

    The guard reads the source-size hint ``load_table`` stamped on the
    DataFrame (an os.stat, free) and estimates the scan's split count
    as bytes / maxPartitionBytes — the same arithmetic Spark's file
    index uses. No hint (a derived DataFrame, a non-local source) means
    no spread: conservative, and exactly right for cluster tables where
    the layout provides parallelism. (The first r10 form probed
    ``df.rdd.getNumPartitions()`` — ~0.1 s of physical planning per
    call, a measured net LOSS on every sub-second query.)"""
    bytes_ = getattr(df, "_graft_scan_bytes", None)
    if bytes_ is None:
        return df
    target = spark.sparkContext.defaultParallelism
    mpb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    # Spark's own split sizing (FilePartition.maxSplitBytes, r11): a
    # scan packs bytes into splits of min(maxPartitionBytes,
    # max(openCostInBytes, totalBytes/defaultParallelism)) — NOT plain
    # maxPartitionBytes (the r10 estimate), which undercounted splits
    # by up to 32x and would have kept spreading scans that Spark
    # already parallelizes. With the real arithmetic, a production-
    # sized multi-row-group table (e.g. sf1.0 lineitem: 134 MB, 49 row
    # groups → 32 productive splits) takes the no-op branch, while the
    # single-row-group sub-MB fixtures still spread.
    max_split = min(mpb, max(open_cost, (bytes_ + open_cost) // target))
    if -(-bytes_ // max_split) >= target:
        return df
    # Width floor (r11, VERDICT r10 item 2): never spread a source so
    # wide that tasks fall under ~32 KB of input — 32 waves of near-
    # empty tasks amplify host contention (the driver's contended
    # 32-core run measured 2-6x inversions vs 8 cores on exactly the
    # sub-MB spread targets) while buying no compute parallelism.
    # Guide §2.2's "fewer, larger partitions", applied to the spread.
    target = min(target, max(2, bytes_ // _SPREAD_MIN_TASK_BYTES))
    return df.repartition(target, *keys) if keys else df.repartition(target)


_SPREAD_MIN_TASK_BYTES = 32 << 10


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value. Unparseable or exotic input
    returns the 128 MB default — the guard then behaves conservatively
    instead of crashing plan construction (ADVICE r10)."""
    try:
        v = v.strip().lower()
        for suf, mult in (
            ("k", 1 << 10),
            ("m", 1 << 20),
            ("g", 1 << 30),
            ("t", 1 << 40),
            ("p", 1 << 50),
        ):
            if v.endswith(suf + "b") or v.endswith(suf):
                return int(float(v.rstrip("b").rstrip(suf))) * mult
        return int(v.rstrip("b"))
    except (ValueError, AttributeError):
        return 134217728


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
