"""Structured Streaming tests (SURVEY.md §5.4): file-source micro-batches
→ windowed max composite / session incidents → memory sink, including the
late-data watermark contract."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.streaming.jobs import (
    EVENTS_STREAM_SCHEMA,
    run_to_memory,
    session_incidents,
    stream_from_dir,
    windowed_max_composite,
)


def _write_batch(spark, path, rows, n_file):
    df = spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/b{n_file}")


def _rows(*specs):
    return [
        (datetime(2024, 1, 1, h, m, s), cx, cy, float(v))
        for (h, m, s, cx, cy, v) in specs
    ]


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return str(src), str(tmp_path / "ckpt")


def test_windowed_max_composite_finalizes_windows(spark, stream_dirs):
    """Tumbling 1h windows in append mode: a window's composite emits
    once the watermark (2h delay) passes its end — and a late row behind
    the watermark is dropped, not recomputed (the reference's monthly
    re-run correction, made incremental)."""
    src, ckpt = stream_dirs
    # batch 1: two cells in the 00:00 window, one in the 01:00 window
    _write_batch(
        spark,
        src,
        _rows((0, 10, 0, 1, 1, 50), (0, 20, 0, 1, 1, 80), (1, 10, 0, 2, 2, 30)),
        1,
    )
    q = run_to_memory(
        windowed_max_composite(
            stream_from_dir(spark, src + "/*"), "1 hour", "2 hours"
        ),
        "win_max",
        ckpt,
    )
    try:
        q.processAllAvailable()
        # batch 2: an event at 05:00 pushes the watermark to 03:00 at
        # batch end — every window ending <= 03:00 finalizes.
        _write_batch(spark, src, _rows((5, 0, 0, 3, 3, 10)), 2)
        q.processAllAvailable()
        # batch 3: a LATE row (00:40, far behind the 03:00 watermark)
        # arrives after its window closed — it must be dropped.
        _write_batch(spark, src, _rows((0, 40, 0, 1, 1, 999)), 3)
        q.processAllAvailable()
        out = {
            (r.window_start.hour, r.cell_x): r
            for r in spark.sql("SELECT * FROM win_max").collect()
        }
        assert out[(0, 1)].max_value == 80.0  # late 999 did NOT update it
        assert out[(0, 1)].n_obs == 2
        assert out[(1, 2)].max_value == 30.0
        assert (5, 3) not in out  # its window hasn't closed yet
    finally:
        q.stop()


def test_session_incidents_merge_and_close(spark, stream_dirs):
    """Detections within the 30-min gap merge into one incident; a
    separated detection opens a new one."""
    src, ckpt = stream_dirs
    _write_batch(
        spark,
        src,
        _rows(
            (0, 0, 0, 1, 1, 10),
            (0, 20, 0, 1, 1, 60),   # 20 min later — same incident
            (2, 0, 0, 1, 1, 5),     # 100 min silence — new incident
            (0, 0, 0, 9, 9, 0),     # zero FRP — filtered out
        ),
        1,
    )
    q = run_to_memory(
        session_incidents(
            stream_from_dir(spark, src + "/*"), "30 minutes", "1 hour"
        ),
        "incidents",
        ckpt,
    )
    try:
        q.processAllAvailable()
        # advance the watermark far enough to close all sessions
        _write_batch(spark, src, _rows((8, 0, 0, 7, 7, 1)), 2)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM incidents WHERE cell_x = 1"
        ).collect()
        assert len(rows) == 2
        first = min(rows, key=lambda r: r.incident_start)
        assert first.n_detections == 2 and first.peak_value == 60.0
        second = max(rows, key=lambda r: r.incident_start)
        assert second.n_detections == 1 and second.peak_value == 5.0
        zero = spark.sql("SELECT * FROM incidents WHERE cell_x = 9").collect()
        assert zero == []
    finally:
        q.stop()


def test_incremental_max_state(spark, stream_dirs):
    """The stateful operator folds successive micro-batches into per-cell
    running (max, count, last event time) instead of recomputing from
    scratch: NULL values are not counted, an all-NULL cell emits a NULL
    max, and a late (earlier) event time never moves ``last_ts`` back."""
    from gee_datapipeline_spark.streaming.jobs import incremental_max_state

    src, ckpt = stream_dirs
    _write_batch(
        spark, src, _rows((0, 0, 0, 1, 1, 10), (0, 5, 0, 1, 1, 30)), 1
    )
    q = run_to_memory(
        incremental_max_state(stream_from_dir(spark, src + "/*")),
        "inc_max",
        ckpt,
        output_mode="update",
    )
    try:
        q.processAllAvailable()
        first = {
            (r.cell_x, r.cell_y): (r.max_value, r.n_obs)
            for r in spark.sql("SELECT * FROM inc_max").collect()
        }
        assert first[(1, 1)] == (30.0, 2)
        # batch 2: lower value must NOT reduce the max; count accumulates
        _write_batch(spark, src, _rows((0, 10, 0, 1, 1, 20)), 2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM inc_max").collect()
        latest = max(
            (r for r in rows if (r.cell_x, r.cell_y) == (1, 1)),
            key=lambda r: r.n_obs,
        )
        assert (latest.max_value, latest.n_obs) == (30.0, 3)
        assert latest.last_ts == datetime(2024, 1, 1, 0, 10)
        # batch 3: (1,1) gets an out-of-order event; (2,2) only NULL
        # values; (1,2) a value plus a later NULL-valued row
        _write_batch(
            spark,
            src,
            [
                (datetime(2024, 1, 1, 0, 2), 1, 1, 25.0),
                (datetime(2024, 1, 1, 0, 20), 2, 2, None),
                (datetime(2024, 1, 1, 0, 15), 2, 2, None),
                (datetime(2024, 1, 1, 0, 5), 1, 2, 7.0),
                (datetime(2024, 1, 1, 0, 40), 1, 2, None),
            ],
            3,
        )
        q.processAllAvailable()
        final = {}
        for r in spark.sql("SELECT * FROM inc_max").collect():
            k = (r.cell_x, r.cell_y)
            if k not in final or r.n_obs > final[k].n_obs:
                final[k] = r
        got = {
            k: (r.max_value, r.n_obs, r.last_ts) for k, r in final.items()
        }
        assert got == {
            (1, 1): (30.0, 4, datetime(2024, 1, 1, 0, 10)),
            (2, 2): (None, 0, datetime(2024, 1, 1, 0, 20)),
            (1, 2): (7.0, 1, datetime(2024, 1, 1, 0, 40)),
        }
    finally:
        q.stop()


def test_incremental_max_state_is_native_aggregate(spark, stream_dirs):
    """The per-cell fold stays a native streaming aggregate: no Python
    state function (``applyInPandasWithState``) in the analyzed plan."""
    from gee_datapipeline_spark.streaming.jobs import incremental_max_state

    src, _ = stream_dirs
    plan = (
        incremental_max_state(stream_from_dir(spark, src + "/*"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "Aggregate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_checkpoint_recovery_no_duplicates(spark, stream_dirs):
    """Stop the query, add data, restart from the same checkpoint: the
    restarted query resumes from the offset log — batch 1 is not
    reprocessed, results stay exactly-once."""
    src, ckpt = stream_dirs
    out_dir = src + "_out"
    _write_batch(spark, src, _rows((0, 10, 0, 1, 1, 50)), 1)

    def start():
        # memory sink can't recover from a checkpoint; foreachBatch →
        # parquet is the real recoverable-sink pattern
        result = windowed_max_composite(
            stream_from_dir(spark, src + "/*"), "1 hour", "1 minute"
        )
        return (
            result.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, epoch: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    # while down: one more in-window row + a closer row
    _write_batch(spark, src, _rows((0, 20, 0, 1, 1, 70)), 2)
    _write_batch(spark, src, _rows((9, 0, 0, 8, 8, 1)), 3)
    q2 = start()  # resumes from the offset/state logs in ckpt
    try:
        q2.processAllAvailable()
        rows = [
            r for r in spark.read.parquet(out_dir).collect()
            if r.cell_x == 1
        ]
        assert len(rows) == 1  # window emitted exactly once
        assert rows[0].max_value == 70.0
        assert rows[0].n_obs == 2  # batch-1 row kept via state, not re-read
    finally:
        q2.stop()


def test_streaming_batch_parity(spark, stream_dirs):
    """The streaming windowed composite over a closed input equals the
    batch groupBy on the same rows (exactly-once, no dup/loss)."""
    src, ckpt = stream_dirs
    rows = _rows(
        (0, 5, 0, 1, 1, 10), (0, 15, 0, 1, 1, 20), (0, 45, 0, 2, 1, 7),
        (1, 5, 0, 1, 1, 30), (1, 10, 0, 2, 1, 40),
    )
    _write_batch(spark, src, rows, 1)
    q = run_to_memory(
        windowed_max_composite(
            stream_from_dir(spark, src + "/*"), "30 minutes", "1 minute"
        ),
        "parity_stream",
        ckpt,
    )
    try:
        q.processAllAvailable()
        # close all windows with a far-future row
        _write_batch(spark, src, _rows((10, 0, 0, 5, 5, 1)), 2)
        q.processAllAvailable()
        got = {
            (str(r.window_start), r.cell_x, r.cell_y): (r.max_value, r.n_obs)
            for r in spark.sql(
                "SELECT * FROM parity_stream WHERE cell_x != 5"
            ).collect()
        }
        batch = (
            spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
            .groupBy(F.window("ts", "30 minutes").alias("w"), "cell_x", "cell_y")
            .agg(F.max("value").alias("mv"), F.count("value").alias("n"))
        )
        want = {
            (str(r["w"].start), r.cell_x, r.cell_y): (r.mv, r.n)
            for r in batch.collect()
        }
        assert got == want
    finally:
        q.stop()


def test_idempotent_batch_writer_skips_replayed_batch(spark, tmp_path):
    """Replaying a batch id (the foreachBatch at-least-once contract)
    must not duplicate or clobber output: the second delivery of
    batch 0 — even with different content, as after a code change
    mid-restart — is skipped because the first commit's _SUCCESS marker
    exists. Distinct batch ids land in distinct partitions."""
    import os

    from gee_datapipeline_spark.streaming.jobs import idempotent_batch_writer

    out = str(tmp_path / "sink")
    write = idempotent_batch_writer(out)
    b0 = spark.range(5).selectExpr("id", "id * 2 AS v")
    write(b0, 0)
    first = spark.read.parquet(os.path.join(out, "batch_id=0"))
    assert first.count() == 5

    replay = spark.range(99).selectExpr("id", "id AS v")  # same id, new data
    write(replay, 0)
    after = spark.read.parquet(os.path.join(out, "batch_id=0"))
    assert after.count() == 5  # untouched — exactly-once held

    write(replay, 1)  # a NEW batch id writes normally
    assert spark.read.parquet(os.path.join(out, "batch_id=1")).count() == 99


def test_enrich_stream_roads_replay_equals_batch(spark, tmp_path):
    """NRT point-to-LINE proximity: three micro-batches (the second a
    verbatim REPLAY of the first) through the stream-static road join
    + complete-mode max/min must equal the batch aggregate over the
    deduplicated data — max/min idempotence is what makes the operator
    at-least-once-safe without dedup state."""
    from gee_datapipeline_spark.functions.geo import (
        line_proximity_pairs,
        line_segments,
        line_vertices,
    )
    from gee_datapipeline_spark.sources.fixtures import (
        FIXTURES_DIR,
        ensure_geo_fixtures,
    )
    from gee_datapipeline_spark.sources.geojson import read_geojson
    from gee_datapipeline_spark.streaming.jobs import (
        enrich_stream_roads,
        run_to_memory,
        stream_from_dir,
    )
    from pyspark.sql import types as T

    ensure_geo_fixtures()
    roads = read_geojson(
        spark, str(FIXTURES_DIR / "roads.geojson"), source="roads"
    )
    segs = line_segments(line_vertices(roads))
    segs = spark.createDataFrame(segs.collect(), segs.schema)

    px = (
        spark.read.parquet(str(FIXTURES_DIR / "pixels.parquet"))
        .filter(F.col("value").isNotNull())
        .select("dataset", "lon", "lat", "value")
    )
    src = tmp_path / "src"
    src.mkdir()
    for b in ("b0", "b1"):  # b1 = replayed delivery of b0
        px.coalesce(1).write.mode("overwrite").parquet(str(src / b))
    px.filter(F.col("dataset") == "no2").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b2"))

    schema = T._parse_datatype_string(
        "dataset string, lon double, lat double, value double"
    )
    q = run_to_memory(
        enrich_stream_roads(
            stream_from_dir(spark, str(src) + "/*", schema), segs, 5.0
        ),
        "roads_replay_gate",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.pt_feature_id, r.dataset): (r.max_value_5km, r.min_distance_km)
        for r in spark.table("roads_replay_gate").collect()
    }

    want_df = (
        line_proximity_pairs(px, segs, 5.0)
        .withColumn("d6", F.round("distance_km", 6))
        .filter(F.col("d6") <= 5.0)
        .groupBy("pt_feature_id", "dataset")
        .agg(
            F.max("value").alias("mx"),
            F.min("d6").alias("mn"),
        )
    )
    want = {
        (r.pt_feature_id, r.dataset): (r.mx, r.mn)
        for r in want_df.collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_road_enrich_redelivery_is_its_own_trigger(spark):
    """The catalog's ``streaming_road_enrich`` replays month 1 after both
    live months: the two live months share the first trigger and the
    redelivery arrives alone in a later one, after a committed batch."""
    from gee_datapipeline_spark.plans import geo_queries

    _, progress = geo_queries._road_enrich_stream(spark)
    px = geo_queries._pixels(spark).filter(F.col("value").isNotNull())
    per_month = {
        r["m"]: r["count"]
        for r in px.groupBy(F.month("date").alias("m")).count().collect()
    }
    rows = [p.numInputRows for p in progress if p.numInputRows > 0]
    assert rows == [sum(per_month.values()), per_month[min(per_month)]]
