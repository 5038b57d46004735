"""Structured Streaming jobs (SURVEY.md §2.9).

The reference polls the NASA LANCE NRT fire feed and recomputes composites
per period from scratch (DataDownloader_SNPP_VIIRS_V1.py:137-141,220-245).
Streaming-native equivalents:

- ``windowed_max_composite`` — the per-period max-FRP composite as an
  event-time tumbling window with a watermark: LANCE revises detections
  within ~24-48 h, so the watermark delay IS the reference's "re-run the
  month" correction mechanism, made incremental.
- ``session_incidents`` — fire *incidents* (contiguous detections at a
  cell, the "active and historic … incidents" phrasing of README.md:2)
  as session windows: a new detection within ``gap`` extends the
  incident, silence closes it.
- ``stream_from_dir`` / ``run_to_memory`` — file-source plumbing used by
  the tests (a directory of parquet micro-batches drives the query
  synchronously via ``processAllAvailable``).

State-store sizing at 100 TB: the windowed aggregate keys state by
(window, cell); watermarking bounds state to (delay / window) windows per
cell. Session state is bounded by active incidents only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("cell_x", T.IntegerType(), False),
        T.StructField("cell_y", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def stream_from_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_STREAM_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream: new parquet files under ``path`` become
    micro-batches (the test/backfill harness; production would be Kafka
    or a cloud queue with identical downstream code).

    ``max_files_per_trigger`` is the trigger-coalescing knob (guide
    §2.2 applied to micro-batches: fewer, larger triggers): each
    trigger carries that many files' worth of rows, so a backfill of N
    files pays N/max triggers' fixed cost (plan + state txn + sink
    commit) instead of N."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_max_composite(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """A2, streaming — per-cell max over event-time tumbling windows.

    ``append`` output mode + watermark: a window's row is emitted exactly
    once, when the watermark passes its end — i.e. each period's
    composite finalizes after the late-data horizon, replacing the
    reference's full re-runs."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"), "cell_x", "cell_y"
        )
        .agg(
            F.max("value").alias("max_value"),
            F.count("value").alias("n_obs"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell_x",
            "cell_y",
            "max_value",
            "n_obs",
        )
    )


def session_incidents(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Fire incidents as session windows: contiguous detections at a
    cell with silence < ``gap`` form one incident."""
    return (
        stream.filter(F.col("value") > 0)
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("sess"), "cell_x", "cell_y"
        )
        .agg(
            F.max("value").alias("peak_value"),
            F.count(F.lit(1)).alias("n_detections"),
        )
        .select(
            F.col("sess.start").alias("incident_start"),
            F.col("sess.end").alias("incident_end"),
            "cell_x",
            "cell_y",
            "peak_value",
            "n_detections",
        )
    )


def incremental_max_state(stream: DataFrame) -> DataFrame:
    """§2.10 stateful operator — the reference's max-FRP composite
    recomputed-from-scratch each run (DataDownloader_SNPP_VIIRS_V1.py:155)
    as *incremental* per-cell state: each micro-batch folds its rows into
    the running (max, count, last event time) per cell and, in ``update``
    output mode, emits the updated row of every touched cell.

    A native streaming aggregate: the state store holds one aggregation
    row per cell, so state is bounded by the fixed cell grid, never by
    stream length. ``n_obs`` counts non-null values; ``last_ts`` is the
    latest event time including rows whose value is NULL."""
    return stream.groupBy("cell_x", "cell_y").agg(
        F.max("value").alias("max_value"),
        F.count("value").alias("n_obs"),
        F.max("ts").alias("last_ts"),
    )


def enrich_stream_roads(
    stream: DataFrame,
    segments: DataFrame,
    radius_km: float,
) -> DataFrame:
    """NRT form of the point-to-LINE proximity join (J2-line): each
    streamed detection is matched against the static road-segment
    table and aggregated per (road, dataset) — "peak FRP within r km
    of each road, live" (README.md:2's advocacy question as a
    continuously-maintained result instead of a render-time overlay).

    Two-stage shape, both stages stream-legal:
    1. ``line_proximity_pairs`` — STATELESS stream-static broadcast
       hash join on the covering-cell key (every executor holds the
       exploded segment table once; no state store, no watermark
       interaction; the static side is re-read per micro-batch, so a
       road-network update is picked up without restart).
    2. a complete-mode aggregate of max(value) / min(distance) per
       (road, dataset). Both are DUPLICATE-TOLERANT (idempotent under
       replay: max and min of a multiset don't change when members
       repeat), so at-least-once delivery needs no dedup state — the
       property that keeps this viable on an unbounded feed.

    State bound: |roads| x |datasets| rows — dimension-sized forever,
    regardless of stream volume."""
    from ..functions.geo import line_proximity_pairs

    pairs = line_proximity_pairs(stream, segments, radius_km)
    return (
        pairs.withColumn("d6", F.round("distance_km", 6))
        .filter(F.col("d6") <= radius_km)
        .groupBy("pt_feature_id", "dataset")
        .agg(
            F.max("value").alias(f"max_value_{int(radius_km)}km"),
            F.min("d6").alias("min_distance_km"),
        )
    )


def run_to_memory(
    result: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start the query into an in-memory sink (test harness)."""
    return (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Streaming deduplication: drop repeats of the same
    ``(ts, cell_x, value)`` key within a 2-hour watermark horizon
    (``dropDuplicatesWithinWatermark``).

    The state store holds one entry per key only until the watermark
    passes it — bounded by (event rate × horizon), never by stream
    lifetime, which is the property that makes dedup viable on an
    unbounded 100 TB/day feed. Exact duplicates from at-least-once
    sources (replayed files, Kafka redelivery) are the target; the
    batch equivalent is plain DISTINCT over the same window."""
    return stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["ts", "cell_x", "value"]
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: correlate two live event feeds on a
    shared key within a bounded event-time horizon (right event lands in
    [left.ts, left.ts + 10 minutes]; both sides carry a 2-hour
    watermark) — the click-to-error correlation the
    reference resolves offline (J4's as-of cousin), done at ingest.

    Both sides are watermarked and the join condition carries the time
    bound, so the state store retains each side only for
    watermark + horizon — bounded state, the precondition for running
    against an unbounded feed. Inner-join matches emit as soon as both
    sides arrive (no watermark wait); the time bound is what lets Spark
    GC state, not what delays output. Columns are prefixed l_/r_ to
    keep the joined schema collision-free.

    ``how="leftOuter"`` adds the never-matched left rows (NULL-filled
    right side). Unlike inner matches these CANNOT emit eagerly — a
    left row is only provably unmatched once the watermark passes
    ``l_ts + horizon``, so outer results trail the feed by
    watermark + horizon (Spark emits them from expiring state). Same
    bounded-state guarantee; the emission delay is inherent to outer
    semantics over unbounded input, not an implementation artifact."""
    lp = left.select(
        F.col("ts").alias("l_ts"),
        F.col(key).alias("l_key"),
        F.col("value").alias("l_value"),
    ).withWatermark("l_ts", "2 hours")
    rp = right.select(
        F.col("ts").alias("r_ts"),
        F.col(key).alias("r_key"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", "2 hours")
    return lp.join(
        rp,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 10 minutes")),
        how,
    )


def idempotent_batch_writer(out_dir: str):
    """Exactly-once file sink for ``foreachBatch``: each micro-batch
    lands in ``out_dir/batch_id=<id>/`` and a batch directory that
    already carries Spark's ``_SUCCESS`` marker is skipped wholesale.

    ``foreachBatch`` re-invokes the callback with the SAME batch_id when
    a query restarts from a checkpoint mid-commit — at-least-once
    delivery. Because the replayed batch is deterministic (same source
    offsets), skip-on-marker upgrades the sink to exactly-once output
    without any transaction log beyond the marker the committer already
    writes. This is the file-sink half of the standard
    checkpoint + idempotent-writes recipe; a table sink would key on
    (query_id, batch_id) in its own commit log instead.

    The marker probe goes through the Hadoop FileSystem API resolved
    from the batch's own SparkSession, so the skip works for any
    supported scheme (``file://``, ``hdfs://``, ``s3a://``...) — a
    driver-local ``os.path.exists`` would silently return False for
    remote sinks and degrade exactly-once back to overwrite-on-replay.

    Returns the callback to pass to ``writeStream.foreachBatch``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        target = f"{out_dir.rstrip('/')}/batch_id={batch_id}"
        spark = batch_df.sparkSession
        marker = spark._jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(marker):
            batch_df.write.mode("overwrite").parquet(target)

    return write

