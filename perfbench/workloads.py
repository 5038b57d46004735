"""The benchmark workloads.

Each workload builds its inputs from the seed (``inputs``), sets how many
set-ups a run makes (``SETUPS``) and offers:

- ``prepare()``: its correctness oracles, computed with DuckDB in a
  thread during the warm-up;
- ``input_pass(spark)``: one pass over every input through the program's
  readers (the second half of a set-up);
- ``warm_up(spark, res, ready)``: every operation once, untimed,
  verified once ``ready()`` says the oracles (``prepare``) are done;
- ``measure(spark, seconds, res)``: the timed loop, untraced;
- ``named(values)``: the end-to-end metrics under the domain's names;
- ``trace(spark, seconds, tracer, res)``: the same work split at layer
  boundaries, each layer's public function called from here and its
  output materialized, returning the per-layer metrics; ``spark_scope``
  and ``log_metrics`` add the counters read from Spark's event log.

Correctness failures never raise: they count in ``res.failed``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from parity_sweep import value_hash

from . import inputs
from .measure import percentile


class Results:
    """Operation outcomes of one run."""

    def __init__(self) -> None:
        self.latencies_ms: list[float] = []
        self.items = 0.0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def crash(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")


def duck():
    """A DuckDB connection that prints no progress bar."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def patched(module, name: str, wrap):
    """Temporarily replace ``module.name`` with ``wrap(original)``."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


# ======================================================= geo ETL job


class GeoMonthlyEtl:
    """The paper's batch job: monthly mean composite -> WHO-threshold
    render -> parquet + CSV export -> pixel-to-road proximity."""

    RADIUS_KM = 3.0
    START, END = "2024-01-01", "2025-01-01"

    def __init__(self, work: str, seed: int):
        from gee_datapipeline_spark.sources.synthetic import DATASETS, DELHI_BBOX

        self.inp = inputs.geo_store(work, seed)
        self.store = os.path.join(self.inp.path, "pixels")
        self.out = os.path.join(work, "out", "geo")
        self.datasets = sorted(DATASETS)
        self.bbox = DELHI_BBOX
        self.rows = self.inp.props["rows"]
        self.props = self.inp.props

    # ------------------------------------------------------ oracles
    def prepare(self) -> None:
        from gee_datapipeline_spark.functions.geo import sql_point_to_segment_km
        from gee_datapipeline_spark.functions.stable import sql_stable_avg

        con = duck()
        lo_lon, lo_lat, hi_lon, hi_lat = self.bbox
        con.execute(
            f"""CREATE VIEW comp AS
            SELECT dataset, band,
                   strftime(date_trunc('month', date), '%Y-%m-%d') AS bucket,
                   x, y, lon, lat,
                   {sql_stable_avg('value')} AS value_agg,
                   count(value) AS n_obs
            FROM read_parquet('{self.store}/*.parquet')
            WHERE dataset IN ({', '.join(f"'{d}'" for d in self.datasets)})
              AND date >= DATE '{self.START}' AND date < DATE '{self.END}'
              AND lon BETWEEN {lo_lon} AND {hi_lon}
              AND lat BETWEEN {lo_lat} AND {hi_lat}
            GROUP BY ALL"""
        )
        comp = con.execute("SELECT * FROM comp").fetchdf()
        self.comp_rows = len(comp)
        self.comp_hash = value_hash(comp)
        self.csv_rows = int(comp["value_agg"].notna().sum())
        verts = os.path.join(self.inp.path, "road_vertices.parquet")
        dist = sql_point_to_segment_km("p.lon", "p.lat", "s.lon1", "s.lat1", "s.lon2", "s.lat2")
        self.near = con.execute(
            f"""WITH s AS (
                  SELECT feature_id, vlon AS lon1, vlat AS lat1,
                         lead(vlon) OVER w AS lon2, lead(vlat) OVER w AS lat2
                  FROM read_parquet('{verts}')
                  WINDOW w AS (PARTITION BY feature_id ORDER BY seq)),
                p AS (SELECT DISTINCT x, y, lon, lat FROM comp)
            SELECT s.feature_id AS pt_feature_id, count(DISTINCT (p.x, p.y)) AS n
            FROM p, s WHERE s.lon2 IS NOT NULL AND {dist} <= {self.RADIUS_KM}
            GROUP BY 1"""
        ).fetchdf().set_index("pt_feature_id")["n"].to_dict()
        con.close()

    # ----------------------------------------------------------- job
    def _sources(self, spark):
        from gee_datapipeline_spark.functions.geo import line_segments
        from gee_datapipeline_spark.sources.synthetic import make_thresholds

        px = spark.read.parquet(self.store)
        segs = line_segments(
            spark.read.parquet(os.path.join(self.inp.path, "road_vertices.parquet"))
        )
        return px, segs, make_thresholds(spark)

    def _composite(self, px):
        from gee_datapipeline_spark import pipeline

        return pipeline.generate_composite(
            px, self.datasets, self.START, self.END, bbox=self.bbox, agg="mean"
        )

    def _near(self, comp, segs):
        from gee_datapipeline_spark.functions.geo import proximity_join_lines

        grid = comp.select("x", "y", "lon", "lat").distinct()
        near = proximity_join_lines(grid, segs, self.RADIUS_KM)
        return near.groupBy("pt_feature_id").agg(F.count(F.lit(1)).alias("n"))

    def job(self, spark) -> dict:
        from gee_datapipeline_spark import pipeline

        px, segs, th = self._sources(spark)
        comp = self._composite(px)
        noop(pipeline.render_composite(comp, thresholds=th))
        pipeline.export_composite(comp, self.out)
        return {r["pt_feature_id"]: r["n"] for r in self._near(comp, segs).collect()}

    def verify(self, near: dict, res: Results) -> None:
        con = duck()
        got = con.execute(
            f"""SELECT dataset, band, bucket, x, y, lon, lat, value_agg, n_obs
            FROM read_parquet('{self.out}/parquet/**/*.parquet', hive_partitioning = true)"""
        ).fetchdf()
        csv_rows = con.execute(
            f"SELECT count(*) FROM read_csv('{self.out}/csv/*.csv', header = true)"
        ).fetchone()[0]
        con.close()
        res.check(
            len(got) == self.comp_rows and value_hash(got) == self.comp_hash,
            "geo: exported composite differs from the DuckDB oracle",
        )
        res.check(csv_rows == self.csv_rows, f"geo: csv rows {csv_rows} != {self.csv_rows}")
        res.check(near == self.near, "geo: road proximity counts differ from the oracle")

    def input_pass(self, spark) -> None:
        px, segs, th = self._sources(spark)
        for df in (px, segs, th):
            noop(df)

    # --------------------------------------------------------- trace
    def traced_job(self, spark, tr) -> dict:
        from gee_datapipeline_spark import pipeline

        def span_wrap(name):
            def wrap(fn):
                def inner(*a, **kw):
                    with tr.span(name):
                        return fn(*a, **kw)
                return inner
            return wrap

        with tr.span("job"):
            with tr.span("sources.scan"):
                px, segs, th = self._sources(spark)
                noop(px)
            with tr.span("pipeline.generate_composite"):
                comp = self._composite(px)
                noop(comp)
            with tr.span("pipeline.render"):
                noop(pipeline.render_composite(comp, thresholds=th))
            with tr.span("pipeline.export"), \
                    patched(pipeline, "write_pixels", span_wrap("sinks.write")), \
                    patched(pipeline, "write_points_csv", span_wrap("sinks.write")):
                pipeline.export_composite(comp, self.out)
            with tr.span("functions.geo.proximity"):
                near = {r["pt_feature_id"]: r["n"] for r in self._near(comp, segs).collect()}
        return near

    def layer_metrics(self, spark, tr) -> dict:
        """Per-layer metrics of the traced jobs, plus the proximity join's
        candidate and hit counts and the export's output size."""
        from gee_datapipeline_spark.functions.geo import (
            line_proximity_pairs,
            proximity_join_lines,
        )

        px, segs, _ = self._sources(spark)
        grid = self._composite(px).select("x", "y", "lon", "lat").distinct()
        cand = line_proximity_pairs(grid, segs, self.RADIUS_KM).count()
        hits = proximity_join_lines(grid, segs, self.RADIUS_KM).count()
        written = [
            os.path.join(r, f) for r, _d, fs in os.walk(self.out) for f in fs
            if not f.startswith((".", "_"))
        ]
        bytes_written = sum(os.path.getsize(p) for p in written)
        n = tr.count("job")
        return {
            "sources.scan_s": tr.total("sources.scan") / n,
            "sources.input_bytes": self.inp.props["bytes"],
            "pipeline.generate_composite_s": tr.total("pipeline.generate_composite") / n,
            "pipeline.render_s": tr.total("pipeline.render") / n,
            "pipeline.export_s": tr.self_times().get("pipeline.export", 0.0) / n,
            "sinks.write_s": tr.total("sinks.write") / n,
            "sinks.bytes_written": bytes_written,
            "sinks.files_written": len(written),
            "sinks.bytes_per_input_byte": bytes_written / self.inp.props["bytes"],
            "functions.geo.proximity_s": tr.total("functions.geo.proximity") / n,
            "functions.geo.candidate_pairs": cand,
            "functions.geo.hit_ratio": hits / max(1, cand),
        }

    def log_metrics(self, tr, log) -> dict:
        groups = tr.groups_under("pipeline.export")
        scans = log.stages_for(lambda d: d in groups)
        return {
            "pipeline.export_scans":
                sum(1 for st in scans if st.input_bytes > 0) / tr.count("job"),
        }


# ======================================================= nrt_fire_stream


class NrtFireStream:
    """VIIRS-like detections arrive as files on a fixed schedule (open
    loop); ``streaming.jobs.incremental_max_state`` folds them into a
    per-cell max and ``idempotent_batch_writer`` commits each micro-batch.
    A drain phase then measures throughput over a pre-written backlog."""

    # a set-up is a session restart plus a read of one file, 0.3 s warm:
    # the median of several steadies it
    SETUPS = 7
    # one file per period during the open-loop phase: small, frequent
    # files keep event-to-result latency from stepping with the period
    PERIOD_S = 0.125
    FILES_PER_TRIGGER = 32
    BACKLOG_FILES = 128
    DRAINS = 2  # backlogs per measured drain phase

    def __init__(self, work: str, seed: int):
        self.gen = inputs.DetectionGenerator(seed)
        self.root = os.path.join(work, "stream")
        self.seq = 0
        self.props = self.gen.props()
        shutil.rmtree(self.root, ignore_errors=True)

    def prepare(self) -> None:
        """Nothing to precompute: every phase checks its sink against the
        events it delivered."""

    # -------------------------------------------------------- plumbing
    def _dirs(self, tag: str) -> tuple[str, str, str]:
        self.seq += 1
        base = os.path.join(self.root, f"{tag}{self.seq}")
        d = tuple(os.path.join(base, s) for s in ("in", "ckpt", "sink"))
        os.makedirs(d[0])
        return d

    def _start(self, spark, src: str, ckpt: str, sink: str, commits: dict):
        from gee_datapipeline_spark.streaming.jobs import (
            idempotent_batch_writer,
            incremental_max_state,
            stream_from_dir,
        )

        write = idempotent_batch_writer(sink)

        def commit(df, batch_id):
            write(df, batch_id)
            commits[batch_id] = time.time()

        state = incremental_max_state(
            stream_from_dir(spark, src, max_files_per_trigger=self.FILES_PER_TRIGGER)
        )
        return (
            state.writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    @staticmethod
    def _batch_files(ckpt: str) -> dict[str, int]:
        """file name -> micro-batch id, from the file source's log. Spark
        compacts that log every few batches into ``<n>.compact`` files,
        so the batch comes from each entry's own ``batchId``."""
        import json

        out = {}
        log = os.path.join(ckpt, "sources", "0")
        for f in os.listdir(log):
            if f.startswith("."):
                continue
            with open(os.path.join(log, f)) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
        return out

    def _verify(self, files: dict, sink: str, res: Results) -> None:
        """The sink must equal a batch max/count per cell over every
        delivered event: each event folded in exactly once."""
        import pyarrow.dataset as ds

        events = pd.concat(files.values(), ignore_index=True)
        want = events.groupby(["cell_x", "cell_y"])["value"].agg(["max", "count"])
        got = ds.dataset(sink, format="parquet", partitioning="hive").to_table().to_pandas()
        got = got.sort_values("batch_id").groupby(["cell_x", "cell_y"]).last()
        ok = len(got) == len(want)
        if ok:
            j = want.join(got, how="inner")
            ok = len(j) == len(want) and bool(
                (j["max"] == j["max_value"]).all() and (j["count"] == j["n_obs"]).all()
            )
        res.check(ok, f"stream: sink state differs from the batch max over {len(events)} events")

    # ---------------------------------------------------------- phases
    def open_loop(self, spark, seconds: float, res: Results, progress: list | None = None) -> dict:
        src, ckpt, sink = self._dirs("open")
        commits: dict[int, float] = {}
        files: dict[str, pd.DataFrame] = {}
        created: dict[str, float] = {}
        lateness: list[float] = []
        backlog = [0]
        q = self._start(spark, src, ckpt, sink, commits)
        try:
            t0 = time.time() + 0.2
            n_files = max(4, int(seconds / self.PERIOD_S))
            for i in range(n_files):
                due = t0 + i * self.PERIOD_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                lateness.append(max(0.0, time.time() - due))
                pdf = self.gen.batch(10_000 * self.seq + i, due)
                name = f"f{i:05d}"
                self.gen.write(pdf, src, name)
                files[name + ".parquet"] = pdf
                created[name + ".parquet"] = due
                if progress is not None:
                    done = sum(p["numInputRows"] for p in q.recentProgress)
                    backlog[0] = max(backlog[0], i + 1 - done // self.gen.per_file)
            q.processAllAvailable()
            if progress is not None:
                progress.extend(q.recentProgress)
        finally:
            q.stop()
        batch_of = self._batch_files(ckpt)
        for b in sorted(set(batch_of.values())):
            in_b = [f for f, bb in batch_of.items() if bb == b]
            newest: dict = {}
            for f in in_b:
                for cell in set(zip(files[f]["cell_x"], files[f]["cell_y"])):
                    newest[cell] = max(newest.get(cell, 0.0), created[f])
            res.latencies_ms.extend((commits[b] - c) * 1e3 for c in newest.values())
        self._verify(files, sink, res)
        return {"generator_late_ms": max(lateness) * 1e3, "backlog_files": backlog[0]}

    def drain(self, spark, res: Results, backlogs: int, size: int = BACKLOG_FILES) -> list[float]:
        """Seconds to process each of ``backlogs`` backlogs of ``size``
        files, one after the other, with the query already running and
        warm (one file processed), so query start-up is not in the
        times."""
        src, ckpt, sink = self._dirs("drain")
        staging = os.path.join(os.path.dirname(src), "backlog")
        os.makedirs(staging)
        now = time.time()
        files = {}
        for i in range(backlogs * size + 1):
            pdf = self.gen.batch(10_000 * self.seq + i, now)
            files[os.path.basename(self.gen.write(pdf, staging, f"b{i:05d}"))] = pdf
        names = sorted(files)
        os.replace(os.path.join(staging, names[0]), os.path.join(src, names[0]))
        q = self._start(spark, src, ckpt, sink, {})
        times = []
        try:
            q.processAllAvailable()
            rows = lambda: sum(p["numInputRows"] for p in q.recentProgress)  # noqa: E731
            for k in range(backlogs):
                want = rows() + size * self.gen.per_file
                t0 = time.perf_counter()
                for name in names[1 + k * size:1 + (k + 1) * size]:
                    os.replace(os.path.join(staging, name), os.path.join(src, name))
                # a trigger that listed the directory before the files
                # landed can end processAllAvailable early: wait for every row
                while rows() < want:
                    if time.perf_counter() - t0 > 120:
                        raise TimeoutError(f"drain stuck at {rows()} of {want} rows")
                    q.processAllAvailable()
                times.append(time.perf_counter() - t0)
        finally:
            q.stop()
        self._verify(files, sink, res)
        return times

    def input_pass(self, spark) -> None:
        """Read one detection file with the stream's schema. The streaming
        query's own start is left to the warm-up: at two more starts per
        run it does not fit the time budget."""
        from gee_datapipeline_spark.streaming.jobs import EVENTS_STREAM_SCHEMA

        src = os.path.join(self.root, "setup")
        if not os.path.isdir(src):
            os.makedirs(src)
            self.gen.write(self.gen.batch(0, time.time()), src, "s00000")
        noop(spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(src))

    def warm_up(self, spark, res: Results, ready) -> None:
        ready()
        self.drain(spark, res, 1, size=2 * self.FILES_PER_TRIGGER)

    def named(self, values: dict) -> dict:
        """The ISSUE's names for the stream's metrics."""
        return {
            "event_to_result_ms_p50": (values["latency_ms_p50"], "ms"),
            "event_to_result_ms_p90": (values["latency_ms_p90"], "ms"),
            "drain_events_per_s": (values["throughput_per_s"], "1/s"),
        }

    def measure(self, spark, seconds: float, res: Results) -> None:
        self.open_loop(spark, seconds * 0.75, res)
        res.items = self.BACKLOG_FILES * self.gen.per_file
        res.busy_s = statistics.median(self.drain(spark, res, self.DRAINS))

    def trace(self, spark, seconds: float, tr, res: Results) -> dict:
        progress: list = []
        with tr.span("stream.open_loop"):
            info = self.open_loop(spark, seconds * 0.75, res, progress)
        plain = statistics.median(self.drain(spark, res, self.DRAINS))
        with tr.span("stream.drain"):
            traced = statistics.median(self.drain(spark, res, self.DRAINS))
        busy = [p for p in progress if p["numInputRows"] > 0]
        dur = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in busy)  # noqa: E731
        state = busy[-1]["stateOperators"][0] if busy and busy[-1]["stateOperators"] else {}
        return {
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.commit_ms": dur("commitOffsets") + dur("walCommit"),
            "streaming.rows_per_trigger": statistics.median(p["numInputRows"] for p in busy),
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_bytes": state.get("memoryUsedBytes", 0),
            "streaming.late_rows_dropped": sum(
                op.get("numRowsDroppedByWatermark", 0) for p in progress for op in p["stateOperators"]
            ),
            "bench.backlog_files": info["backlog_files"],
            "bench.generator_late_ms": info["generator_late_ms"],
            "bench.trace_overhead": traced / plain,
        }

    def spark_scope(self, tr, wall: float):
        """Streaming jobs carry Spark's own run-id descriptions; the
        counters cover all of them over the whole traced run."""
        return (lambda d: "runId" in d), wall

    def log_metrics(self, tr, log) -> dict:
        return {}


# ===================================================== catalog queries

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "gee_datapipeline_spark", "plans")


def import_plan_modules() -> dict[str, str]:
    """Import every ``plans/*_queries.py`` module that loads (each
    registers its queries on import) and return the ones that fail, with
    their error. ``plans.queries()`` would import them all and raise."""
    import importlib

    failed = {}
    for f in sorted(os.listdir(PLANS_DIR)):
        if f.endswith("_queries.py"):
            try:
                importlib.import_module(f"gee_datapipeline_spark.plans.{f[:-3]}")
            except Exception as e:  # noqa: BLE001 - reported, not hidden
                failed[f[:-3]] = f"{type(e).__name__}: {e}"
    return failed


class CatalogQueries:
    """Registered catalog queries (builder call plus ``toPandas``) over a
    generated LLM-curation corpus, each result value-hashed against the
    query's DuckDB oracle. The list covers the Gopher quality gate, quality
    scores, token counts, exact and MinHash-LSH dedup and IVF ANN (recall
    checked against the exact top-k). Connected components, which run in
    the ``dedup_clusters`` query, are too slow for the loop at this budget
    (about 9 s cold and 5.5 s warm); the traced run times them directly."""

    CHEAP = ("gopher_quality", "text_quality", "token_count", "dedup_exact")  # 0.2-0.7 s warm
    HEAVY = ("minhash_lsh_pairs", "ann_ivf")  # 2-6 s warm
    QUERIES = CHEAP + HEAVY
    RECALL_FLOOR = 0.8  # IVF top-k against the exact top-k
    JACCARD = 0.3  # the MinHash threshold minhash_lsh_pairs runs at

    def __init__(self, work: str, seed: int):
        from gee_datapipeline_spark.plans.registry import QUERIES

        self.inp = inputs.corpus(work, seed)
        self.dir = self.inp.path
        self.props = dict(self.inp.props)
        self.props["plan_modules_failing"] = import_plan_modules()
        self.q = {n: QUERIES[n] for n in self.QUERIES}

    # ------------------------------------------------------ oracles
    def prepare(self) -> None:
        from gee_datapipeline_spark.plans.registry import QUERIES

        con = duck()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        self.want = {}
        for n, q in self.q.items():
            pdf = con.execute(q.oracle).fetchdf()
            self.want[n] = (len(pdf), sorted(pdf.columns), value_hash(pdf))
            if n == "gopher_quality":
                self.props["gate_keep_rate"] = round(float(pdf["keep"].mean()), 6)
        exact = con.execute(QUERIES["ann_bruteforce"].oracle).fetchdf()
        self.exact_knn = set(zip(exact["q_id"], exact["neighbor_id"]))
        con.close()

    def true_pairs(self) -> set:
        """Document pairs whose exact 3-word-shingle Jaccard reaches the
        MinHash threshold; the traced run's pair precision is against
        these."""
        con = duck()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.dir}/documents.parquet')")
        pairs = set(map(tuple, con.execute(
            rf"""WITH toks AS (
                  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                  FROM documents),
                sh AS (
                  SELECT doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
                  FROM toks WHERE len(t) >= 3),
                n AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY 1)
            SELECT a.doc_id, b.doc_id
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            JOIN n na ON na.doc_id = a.doc_id JOIN n nb ON nb.doc_id = b.doc_id
            GROUP BY a.doc_id, b.doc_id, na.k, nb.k
            HAVING count(*) / (na.k + nb.k - count(*)) >= {self.JACCARD}"""
        ).fetchall()))
        con.close()
        return pairs

    # ----------------------------------------------------------- ops
    def run_query(self, spark, name: str, tr=None) -> pd.DataFrame:
        """Builder call plus action; traced, split into build, plan and
        execution spans."""
        q = self.q[name]
        if tr is None:
            return q.spark(spark, self.dir).toPandas()
        with tr.span("query"):
            with tr.span("plans.build"):
                df = q.spark(spark, self.dir)
            with tr.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("plans.exec"):
                return df.toPandas()

    def verify(self, name: str, pdf: pd.DataFrame, res: Results) -> None:
        rows, cols, h = self.want[name]
        res.check(
            len(pdf) == rows and sorted(pdf.columns) == cols and value_hash(pdf) == h,
            f"catalog: {name} differs from its DuckDB oracle",
        )
        if name == "ann_ivf":
            got = set(zip(pdf["q_id"], pdf["neighbor_id"]))
            recall = len(got & self.exact_knn) / len(self.exact_knn)
            res.check(recall >= self.RECALL_FLOOR,
                      f"catalog: ann_ivf recall {recall:.3f} < {self.RECALL_FLOOR}")

    def input_pass(self, spark) -> None:
        from gee_datapipeline_spark.catalog import load_table

        for t in ("documents", "embeddings"):
            noop(load_table(spark, self.dir, t))

    def layer_metrics(self, spark, tr) -> dict:
        """Build, plan and execution time per traced query, plus the
        direct layer calls."""
        n = tr.count("query")
        return {
            "plans.build_ms": tr.total("plans.build") / n * 1e3,
            "plans.plan_ms": tr.total("plans.plan") / n * 1e3,
            "plans.exec_ms": tr.total("plans.exec") / n * 1e3,
            **self.layer_calls(spark, tr),
        }

    def layer_calls(self, spark, tr) -> dict:
        """Each curation layer's public function called directly, its
        output materialized with a noop write."""
        from gee_datapipeline_spark.catalog import load_table, spread_scan
        from gee_datapipeline_spark.functions import dedup, similarity
        from gee_datapipeline_spark.functions import text as X
        from gee_datapipeline_spark.operators import graph
        from gee_datapipeline_spark.plans import similarity_queries as S

        docs = spread_scan(load_table(spark, self.dir, "documents"), spark, "doc_id")
        t = F.col("text")
        with tr.span("functions.text.quality"):
            noop(docs.select("doc_id", X.token_count(t), X.avg_token_len(t),
                             X.punct_ratio(t), X.quality_score(t)))
        keep = self.q["gopher_quality"].spark(spark, self.dir).agg(
            F.avg(F.col("keep").cast("double"))).first()[0]

        with tr.span("functions.dedup.minhash"):
            pairs = dedup.minhash_lsh_pairs(docs, "doc_id", t, threshold=self.JACCARD,
                                            family="md5perm").localCheckpoint(eager=True)
        got = {(r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()}

        rounds = [0]

        def count_rounds(fn):
            def inner(edges, large):
                rounds[0] += large
                return fn(edges, large)
            return inner

        with tr.span("operators.graph.cc"), patched(graph, "_star_round", count_rounds):
            noop(graph.connected_components(pairs, "doc_a", "doc_b"))

        emb = load_table(spark, self.dir, "embeddings")
        probes = emb.filter(F.col("vec_id") < S.N_QUERIES)
        with tr.span("functions.similarity.ivf_train"):
            quant = similarity.ivf_centroids(emb, n_centroids=S.IVF_CENTROIDS,
                                             lloyd_iters=1, exact=True)
        with tr.span("functions.similarity.probe"):
            top = similarity.ann_ivf_topk(
                emb, probes, k=S.TOP_K, n_centroids=S.IVF_CENTROIDS,
                n_probe=S.IVF_PROBE, exact=True, quantizer=quant,
            ).select("q_id", "neighbor_id").toPandas()
        cells = similarity.ivf_assign(emb, quant, n_probe=1).groupBy("cid").count()
        cand = (similarity.ivf_assign(probes, quant, n_probe=S.IVF_PROBE)
                .join(cells, "cid").agg(F.sum("count")).first()[0])
        knn = set(zip(top["q_id"], top["neighbor_id"]))
        return {
            "functions.text.quality_s": tr.total("functions.text.quality"),
            "functions.text.keep_frac": keep,
            "functions.dedup.minhash_s": tr.total("functions.dedup.minhash"),
            "functions.dedup.candidate_pairs": len(got),
            "functions.dedup.pair_precision": len(got & self.true_pairs()) / max(1, len(got)),
            "operators.graph.cc_s": tr.total("operators.graph.cc"),
            "operators.graph.cc_rounds": rounds[0],
            "functions.similarity.ivf_train_s": tr.total("functions.similarity.ivf_train"),
            "functions.similarity.probe_s": tr.total("functions.similarity.probe"),
            "functions.similarity.candidates_per_query": cand / S.N_QUERIES,
            "functions.similarity.recall_at_k": len(knn & self.exact_knn) / len(self.exact_knn),
        }

    def log_metrics(self, tr, log) -> dict:
        groups = tr.groups_under("query")
        n = tr.count("query")
        scans = log.stages_for(lambda d: d in groups)
        return {
            "plans.jobs_per_query": sum(1 for d in log.job_desc.values() if d in groups) / n,
            "catalog.scan_tasks": sum(st.tasks for st in scans if st.input_bytes > 0) / n,
        }


# ============================================================ batch_mix


class BatchMix:
    """One batch client, closed loop: rounds of the geo ETL job and the
    catalog queries, each round in a seeded order. The geo job and the
    queries share the run's fixed costs (JVM start, set-ups, warm-up),
    which is what lets both fit the benchmark's time budget."""

    GEO = "geo_job"
    SETUPS = 3
    # A round runs the three heavy operations once and the four cheap
    # queries twice, 11 operations; one round is all the time budget
    # allows.
    ROUND = (GEO,) + CatalogQueries.HEAVY + 2 * CatalogQueries.CHEAP
    MIN_ROUNDS = 1
    # On their second call the geo job and the cheap queries still run
    # 10-25% slower than later, by an amount that varies from run to run
    # (the JIT is still compiling), so the warm-up calls them once more.
    # The heavy queries are warm after one call.
    WARM_AGAIN = (GEO,) + CatalogQueries.CHEAP

    def __init__(self, work: str, seed: int):
        import random

        self.geo = GeoMonthlyEtl(work, seed)
        self.cat = CatalogQueries(work, seed)
        self.ops = (self.GEO,) + self.cat.QUERIES
        self.rng = random.Random(seed)
        self.props = {"geo": self.geo.props, "corpus": self.cat.props}
        self.samples: list[tuple[str, float]] = []

    def prepare(self) -> None:
        self.geo.prepare()
        self.cat.prepare()

    def input_pass(self, spark) -> None:
        self.geo.input_pass(spark)
        self.cat.input_pass(spark)

    def _run(self, spark, op: str, tr=None):
        if op == self.GEO:
            return self.geo.traced_job(spark, tr) if tr else self.geo.job(spark)
        return self.cat.run_query(spark, op, tr)

    @staticmethod
    def _between(spark) -> None:
        """What a long-lived session does between jobs, untimed: drop the
        finished job's ``localCheckpoint`` blocks. Left in place, they pile
        up and later, unrelated operations slow down by 20-80% (measured:
        ``ann_ivf`` 3.7 s in the first round, 6.9 s in the third)."""
        from gee_datapipeline_spark.session import release_scratch

        release_scratch(spark)

    def _verify(self, op: str, out, res: Results) -> None:
        if op == self.GEO:
            self.geo.verify(out, res)
        else:
            self.cat.verify(op, out, res)

    def rounds(self):
        """Rounds of ROUND, each in a seeded order, so each run times the
        same mix."""
        while True:
            order = list(self.ROUND)
            self.rng.shuffle(order)
            yield order

    def warm_up(self, spark, res: Results, ready) -> None:
        outs = []
        for op in self.ops:
            outs.append((op, self._run(spark, op)))
            self._between(spark)
        ready()
        for op, out in outs:
            self._verify(op, out, res)
        for op in self.WARM_AGAIN:
            self._verify(op, self._run(spark, op), res)
            self._between(spark)

    def measure(self, spark, seconds: float, res: Results) -> None:
        give_up = time.perf_counter() + 3 * seconds
        for done, order in enumerate(self.rounds(), 1):
            for op in order:
                try:
                    t0 = time.perf_counter()
                    out = self._run(spark, op)
                    dt = time.perf_counter() - t0
                    res.latencies_ms.append(dt * 1e3)
                    res.busy_s += dt
                    res.items += 1
                    self.samples.append((op, dt * 1e3))
                    self._verify(op, out, res)
                except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
                    res.crash(f"{op} raised")
                self._between(spark)
            if done >= self.MIN_ROUNDS and (res.busy_s >= seconds or time.perf_counter() > give_up):
                break

    def summary(self) -> str:
        """Median latency and sample count of each operation."""
        by: dict[str, list[float]] = {}
        for op, ms in self.samples:
            by.setdefault(op, []).append(ms)
        return ", ".join(f"{op} {statistics.median(v):.0f} ms x{len(v)}" for op, v in sorted(by.items()))

    def named(self, values: dict) -> dict:
        """The ISSUE's names: geo job time and catalog query latency."""
        job = [ms for op, ms in self.samples if op == self.GEO]
        query = [ms for op, ms in self.samples if op != self.GEO]
        return {
            "job_s": (statistics.median(job) / 1e3, "s"),
            "query_ms_p50": (percentile(query, 50), "ms"),
            "query_ms_p90": (percentile(query, 90), "ms"),
            "ops_per_s": (values["throughput_per_s"], "1/s"),
        }

    def trace(self, spark, seconds: float, tr, res: Results) -> dict:
        """One round, each operation run untraced and traced (in turn
        first), then the layers' own metrics and direct calls."""
        took = {None: 0.0, tr: 0.0}
        for i, op in enumerate(next(self.rounds())):
            for t in ((None, tr) if i % 2 else (tr, None)):
                t0 = time.perf_counter()
                self._verify(op, self._run(spark, op, t), res)
                took[t] += time.perf_counter() - t0
                self._between(spark)
        return {
            **self.geo.layer_metrics(spark, tr),
            **self.cat.layer_metrics(spark, tr),
            "bench.trace_overhead": took[tr] / took[None],
        }

    def spark_scope(self, tr, wall: float):
        """Which Spark jobs the ``spark.*`` counters cover, and over what
        busy time: the traced operations."""
        return (lambda d: d.startswith("perfbench:")), tr.root_time()

    def log_metrics(self, tr, log) -> dict:
        return {**self.geo.log_metrics(tr, log), **self.cat.log_metrics(tr, log)}


WORKLOADS = {
    "batch_mix": BatchMix,
    "nrt_fire_stream": NrtFireStream,
}
