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

``kmv_distinct_state`` and ``cms_heavy_state`` stay Python state
functions on purpose: Spark's native ``theta_sketch_agg`` and
``count_min_sketch`` use other hashes, so they cannot reproduce the md5
estimators that the batch-parity tests pin bit-exact.
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


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a static
    dimension table (the streaming form of the amenity overlay J2 —
    "which district / how near a power plant is this detection",
    DataDownloader_V2.py:96-102, resolved at ingest time instead of
    render time).

    The static side is broadcast: every executor holds the dimension
    once, each micro-batch is a local hash join — STATELESS, so no
    state store, no watermark interaction, and the join cannot become
    the scale bottleneck (amenity tables are ≤ thousands of rows, §0).
    The static side is re-read per micro-batch, so a dimension update
    (new power plant) is picked up without restarting the query."""
    return stream.join(F.broadcast(dim), on, how)


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
       interaction; re-read per micro-batch so a road-network update
       is picked up without restart, like :func:`enrich_stream`).
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


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("ts", "cell_x", "value"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication: drop repeats of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``).

    The state store holds one entry per key only until the watermark
    passes it — bounded by (event rate × horizon), never by stream
    lifetime, which is the property that makes dedup viable on an
    unbounded 100 TB/day feed. Exact duplicates from at-least-once
    sources (replayed files, Kafka redelivery) are the target; the
    batch equivalent is plain DISTINCT over the same window."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    horizon: str = "10 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: correlate two live event feeds on a
    shared key within a bounded event-time horizon (right event lands in
    [left.ts, left.ts + horizon]) — the click-to-error correlation the
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
    ).withWatermark("l_ts", watermark)
    rp = right.select(
        F.col("ts").alias("r_ts"),
        F.col(key).alias("r_key"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    return lp.join(
        rp,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {horizon}")),
        how,
    )


def _uncommitted_batch_target(
    batch_df: DataFrame, out_dir: str, batch_id: int
) -> str | None:
    """``out_dir/batch_id=<id>``, or None when its ``_SUCCESS`` marker
    already exists (the batch is committed; see
    :func:`idempotent_batch_writer`)."""
    target = f"{out_dir.rstrip('/')}/batch_id={batch_id}"
    spark = batch_df.sparkSession
    marker = spark._jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    return None if fs.exists(marker) else target


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
        target = _uncommitted_batch_target(batch_df, out_dir, batch_id)
        if target is not None:
            batch_df.write.mode("overwrite").parquet(target)

    return write


DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def ingest_dedup_stream(
    spark: SparkSession,
    in_dir: str,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    **minhash_params,
) -> StreamingQuery:
    """The streaming ingestion-dedup loop: every arriving micro-batch
    of documents is probed against the persisted MinHash index
    (:func:`..functions.dedup.minhash_index_probe` — O(batch) work,
    batch signatures broadcast, the corpus never recomputed), near-dup
    matches are dropped, and the SURVIVORS are both written to
    ``out_dir/batch_id=<n>/`` and folded into the index
    (:func:`..functions.dedup.minhash_index_append`) so later batches
    dedup against earlier ones — the full 100 TB ingestion pipeline as
    one continuously-running query.

    ``foreachBatch`` is the right tool (not a stream-static join): the
    per-batch logic joins against an EXTERNAL artifact that the batch
    itself must then update, which no declarative streaming join can
    express. Exactly-once: the batch output directory's ``_SUCCESS``
    marker is the commit point (checked through the Hadoop FS API, as
    in :func:`idempotent_batch_writer`); a replayed batch whose marker
    exists is skipped wholesale. A crash between the signature append
    and the output commit re-appends the batch's signatures on replay
    — harmless, because the probe de-duplicates candidate pairs, so
    duplicate index rows can never change a keep/drop decision.

    Within-batch near-dups are deliberately out of scope here (exactly
    as in the batch :func:`..functions.dedup.minhash_incremental_pairs`)
    — run :func:`..functions.dedup.minhash_lsh_pairs` on the batch
    first if intra-batch duplicates are possible."""
    from ..functions.dedup import minhash_index_append, minhash_index_probe

    src = stream_from_dir(spark, in_dir, DOCS_STREAM_SCHEMA)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        target = _uncommitted_batch_target(batch_df, out_dir, batch_id)
        if target is None:
            return
        s = batch_df.sparkSession
        matches = minhash_index_probe(
            s,
            index_path,
            batch_df,
            "doc_id",
            F.col("text"),
            threshold,
            **minhash_params,
        )
        dup_ids = matches.select(
            F.col("batch_id").alias("doc_id")
        ).distinct()
        keep = batch_df.join(dup_ids, "doc_id", "left_anti").localCheckpoint()
        minhash_index_append(
            keep, index_path, "doc_id", F.col("text"), threshold,
            **minhash_params,
        )
        keep.write.mode("overwrite").parquet(target)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# (source, text) wire schema for the per-source sketch jobs below —
# distinct from DOCS_STREAM_SCHEMA above (doc_id, text), which the
# ingestion-dedup loop consumes. A second module-level assignment of
# the same name would silently shadow the first (it did, for one
# commit — caught by test_ingest_dedup_stream_cross_batch).
SOURCE_DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

KMV_STREAM_K = 16
_KMV_STREAM_SCALE = float(1 << 60)


def kmv_distinct_state(stream: DataFrame, k: int = KMV_STREAM_K) -> DataFrame:
    """Streaming cardinality: per-source KMV bottom-k content sketch
    maintained in the state store — the incremental form of the batch
    ``kmv_distinct_overlap`` gate (same hash, same (K-1)/h_K estimator,
    so a replayed stream converges to the batch answer exactly).

    State per source is AT MOST k int64 hashes regardless of stream
    length (the sketch property that makes this safe at 100 TB: a
    billion-doc source still holds 16 longs), and the merge is
    associative — checkpoint recovery or shuffled arrival order cannot
    change the sketch. Each update emits the refreshed
    (n_docs, distinct estimate) for the touched source."""
    import pandas as pd

    def update(key, pdfs, state):
        hs, n = (state.get if state.exists else ((), 0))
        merged = set(hs)
        for pdf in pdfs:
            n += int(len(pdf))
            merged.update(int(h) for h in pdf["h"].dropna())
        hs = sorted(merged)[:k]
        state.update((hs, n))
        cnt = len(hs)
        est = (
            float(cnt)
            if cnt < k
            else float(k - 1) / (float(hs[-1]) / _KMV_STREAM_SCALE)
        )
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_docs": [n],
                "est_distinct": [est],
            }
        )

    hashed = stream.select(
        "source",
        F.conv(
            F.substring(F.md5(F.coalesce(F.col("text"), F.lit(""))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    return hashed.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, n_docs long, est_distinct double",
        stateStructType="hs array<bigint>, n bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


CMS_STREAM_DEPTH = 4
CMS_STREAM_WIDTH = 512
CMS_STREAM_POOL = 64


def cms_heavy_state(
    stream: DataFrame,
    k: int = 10,
    depth: int = CMS_STREAM_DEPTH,
    width: int = CMS_STREAM_WIDTH,
    pool: int = CMS_STREAM_POOL,
) -> DataFrame:
    """Streaming heavy hitters: a per-source Count-Min sketch plus a
    bounded candidate pool maintained in the state store — the
    incremental form of the batch ``cms_heavy_hitters`` gate (same md5
    base hash, same (a·h+b) mod p mod w bucket family from
    ``functions.sketches``, so cell counts and point estimates from a
    replayed stream are BIT-IDENTICAL to the batch sketch: CMS is a
    monoid and the update order cannot change a cell).

    State per source is fixed-size regardless of stream length:
    depth·width int64 cells + ≤``pool`` candidate terms (the classic
    CMS+heap construction, Cormode & Muthukrishnan 2005 §4). Every
    batch: add the batch's term counts into the cells, re-estimate the
    union of surviving candidates and the batch's terms against the
    updated cells, keep the top ``pool``, and emit the top ``k`` with
    their estimates. A term can only enter the shortlist while it is
    arriving — the standard CMS+heap admission property — so the pool
    is sized ≥ the shortlist the consumer reads (k) with headroom.

    Tokenization matches the batch gate (lower, trim, split on
    whitespace runs); empty texts contribute nothing."""
    import hashlib

    import pandas as pd

    from ..functions.dedup import MH_PERM_P, mh_perm_constants

    a, b = mh_perm_constants(depth)

    def buckets(term: str) -> list[int]:
        h = int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16)
        return [((a[i] * h + b[i]) % MH_PERM_P) % width for i in range(depth)]

    def estimate(cells: list[int], bks: list[int]) -> int:
        return min(cells[i * width + bks[i]] for i in range(depth))

    def update(key, pdfs, state):
        if state.exists:
            cells, n, cand = state.get
            cells = list(cells)
            cand = list(cand)
        else:
            cells, n, cand = [0] * (depth * width), 0, []
        batch_terms: dict[str, int] = {}
        for pdf in pdfs:
            for text in pdf["text"].dropna():
                for term in str(text).lower().strip().split():
                    batch_terms[term] = batch_terms.get(term, 0) + 1
                    n += 1
        for term, c in batch_terms.items():
            for i, bk in enumerate(buckets(term)):
                cells[i * width + bk] += c
        scored = sorted(
            (
                (-estimate(cells, buckets(t)), t)
                for t in set(cand) | set(batch_terms)
            ),
        )[:pool]
        cand = [t for _, t in scored]
        state.update((cells, n, cand))
        top = scored[:k]
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(top),
                "term": [t for _, t in top],
                "est": [-e for e, _ in top],
                "n_tokens": [n] * len(top),
                "rk": list(range(1, len(top) + 1)),
            }
        )

    return stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, term string, est bigint, "
            "n_tokens bigint, rk int"
        ),
        stateStructType="cells array<bigint>, n bigint, cand array<string>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
