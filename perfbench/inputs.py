"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet. Outputs are cached under the benchmark's
work directory, keyed by workload, seed and size, and a ``manifest.json``
written last marks a complete entry and records the input properties the
program's behaviour depends on (rows, bytes, NULL share, duplicate rates,
shingle pairs, active cells, late share).
Generation time is never part of a measured metric.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- sizes

# Pixel store: one year of daily observations for 4 pollutant datasets
# on a GEO_GRID x GEO_GRID grid over the Delhi-NCR bbox.
GEO_GRID = 12
GEO_DAYS = 365
GEO_NULL_FRAC = 0.05
GEO_ROADS = 14

# Corpus: CORPUS_DOCS documents (CORPUS_EXACT_DUP_FRAC verbatim copies and
# CORPUS_NEAR_DUP_FRAC copies with a few words changed) and
# CORPUS_EMBEDDINGS 64-dimension embeddings around CORPUS_LABELS centres.
CORPUS_DOCS = 1200
CORPUS_EXACT_DUP_FRAC = 0.03
CORPUS_NEAR_DUP_FRAC = 0.06
CORPUS_EMBEDDINGS = 600
CORPUS_DIM = 64
CORPUS_LABELS = 10
# English-like vocabulary: real words keep the quality gate's alpha-word
# and stopword rules meaningful (synthetic "w123" tokens fail them all),
# and its size keeps shared 3-word shingles, and so the exact n-gram
# join, small.
VOCAB = (
    "the a of and to in is it "
    "data table query spark column row value key join scan filter group "
    "sort merge batch stream window order line part customer supplier "
    "nation region event document vector index cache shuffle stage task "
    "plan cost model river city road fire smoke air quality monthly daily "
    "pixel band grid cell map year season rain wind heat cloud sensor "
    "station report level limit mean peak trend score label source fast "
    "slow small big new old high low"
).split()
CORPUS_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

# Detection stream: VIIRS-like fire detections on a STREAM_GRID^2 cell grid.
STREAM_GRID = 24
STREAM_EVENTS_PER_FILE = 50
STREAM_LATE_FRAC = 0.10


@dataclass
class Inputs:
    """A generated input directory and its recorded properties."""

    path: str
    props: dict


def _cached(work: str, key: str, build) -> Inputs:
    path = os.path.join(work, "inputs", key)
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return Inputs(path, json.load(fh))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    props = build(path)
    props["bytes"] = _tree_bytes(path)
    with open(manifest + ".tmp", "w") as fh:
        json.dump(props, fh, indent=1, sort_keys=True)
    os.replace(manifest + ".tmp", manifest)
    return Inputs(path, props)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


# ------------------------------------------------------------ geo ETL


def geo_store(work: str, seed: int) -> Inputs:
    """Long-format pixel store in ``model.PIXELS_SCHEMA`` (one parquet
    file per dataset) plus the seeded synthetic road network."""
    from gee_datapipeline_spark.sources.synthetic import (
        DATASETS,
        DELHI_BBOX,
        road_vertex_rows,
    )

    def build(path: str) -> dict:
        rng = np.random.default_rng(seed)
        g = GEO_GRID
        min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
        xs, ys = np.meshgrid(np.arange(g, dtype=np.int32), np.arange(g, dtype=np.int32))
        xs, ys = xs.ravel(), ys.ravel()
        lon = min_lon + (xs + 0.5) * (max_lon - min_lon) / g
        lat = min_lat + (ys + 0.5) * (max_lat - min_lat) / g
        days = pd.date_range("2024-01-01", periods=GEO_DAYS, freq="D")
        store = os.path.join(path, "pixels")
        os.makedirs(store)
        rows = nulls = 0
        for ds, (band, lo, hi) in sorted(DATASETS.items()):
            n = len(days) * len(xs)
            # per-pixel level + daily noise, rounded to 6 dp like a sensor
            level = rng.uniform(lo, hi, len(xs))
            noise = rng.normal(0.0, (hi - lo) * 0.1, n)
            value = np.round(np.tile(level, len(days)) + noise, 6)
            null = rng.random(n) < GEO_NULL_FRAC
            date = np.repeat(days.values.astype("datetime64[D]"), len(xs))
            table = pa.table(
                {
                    "dataset": pa.array([ds] * n, pa.string()),
                    "band": pa.array([band] * n, pa.string()),
                    "date": pa.array(date, pa.date32()),
                    "ts": pa.array(date.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
                    "x": pa.array(np.tile(xs, len(days)), pa.int32()),
                    "y": pa.array(np.tile(ys, len(days)), pa.int32()),
                    "lon": pa.array(np.tile(lon, len(days)), pa.float64()),
                    "lat": pa.array(np.tile(lat, len(days)), pa.float64()),
                    "value": pa.array(value, pa.float64(), mask=null),
                }
            )
            pq.write_table(
                table, os.path.join(store, f"{ds}.parquet"),
                row_group_size=max(1, n // 4),
            )
            rows += n
            nulls += int(null.sum())
        verts = road_vertex_rows(GEO_ROADS, seed)
        pq.write_table(
            pa.table(
                {
                    "feature_id": [v[0] for v in verts],
                    "road_class": [v[1] for v in verts],
                    "seq": pa.array([v[2] for v in verts], pa.int32()),
                    "vlon": [v[3] for v in verts],
                    "vlat": [v[4] for v in verts],
                }
            ),
            os.path.join(path, "road_vertices.parquet"),
        )
        return {
            "rows": rows,
            "null_frac": round(nulls / rows, 6),
            "grid": g,
            "days": GEO_DAYS,
            "datasets": sorted(DATASETS),
            "roads": GEO_ROADS,
            "road_vertices": len(verts),
        }

    return _cached(work, f"geo-s{seed}-g{GEO_GRID}", build)


# ------------------------------------------------------------- corpus


def corpus(work: str, seed: int) -> Inputs:
    """``documents`` and ``embeddings`` tables in the schema of the
    repository's test data (one parquet file each), so the registered
    catalog queries take the directory as their ``sf_dir``."""

    def build(path: str) -> dict:
        rng = np.random.default_rng(seed)
        vocab = np.array(VOCAB)
        texts: list[str] = []
        kinds = rng.choice(
            3, CORPUS_DOCS,
            p=[1 - CORPUS_EXACT_DUP_FRAC - CORPUS_NEAR_DUP_FRAC,
               CORPUS_EXACT_DUP_FRAC, CORPUS_NEAR_DUP_FRAC],
        )
        kinds[0] = 0
        for kind in kinds:
            if kind == 0:
                words = vocab[rng.integers(0, len(vocab), rng.integers(30, 110))]
            else:
                words = np.array(texts[rng.integers(0, len(texts))].split())
                if kind == 2:  # near duplicate: change about 5% of the words
                    at = rng.random(len(words)) < 0.05
                    words[at] = vocab[rng.integers(0, len(vocab), int(at.sum()))]
            texts.append(" ".join(words))
        n = len(texts)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(n), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(rng.choice(CORPUS_LANGS, n), pa.string()),
                    "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            os.path.join(path, "documents.parquet"),
        )
        centres = rng.normal(0.0, 1.0, (CORPUS_LABELS, CORPUS_DIM))
        label = rng.integers(0, CORPUS_LABELS, CORPUS_EMBEDDINGS)
        emb = (centres[label] + rng.normal(0.0, 0.6, (CORPUS_EMBEDDINGS, CORPUS_DIM))).astype(np.float32)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(CORPUS_EMBEDDINGS), pa.int64()),
                    "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                    "label": pa.array(label, pa.int32()),
                }
            ),
            os.path.join(path, "embeddings.parquet"),
        )
        # sum over 3-word shingles of df*(df-1)/2: the exact n-gram join's size
        df: dict[str, int] = {}
        for t in texts:
            w = t.split()
            for sh in {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}:
                df[sh] = df.get(sh, 0) + 1
        return {
            "documents": n,
            "exact_dup_rate": round(1 - len(set(texts)) / n, 6),
            "near_dup_rate": round(float((kinds == 2).mean()), 6),
            "shingle_pairs": sum(d * (d - 1) // 2 for d in df.values()),
            "embeddings": CORPUS_EMBEDDINGS,
            "dim": CORPUS_DIM,
            "labels": CORPUS_LABELS,
        }

    return _cached(work, f"corpus-s{seed}-d{CORPUS_DOCS}-e{CORPUS_EMBEDDINGS}", build)


# ------------------------------------------------------------- stream


class DetectionGenerator:
    """VIIRS-like fire detections in ``streaming.jobs.EVENTS_STREAM_SCHEMA``.

    ``batch(i, created)`` is a pure function of ``(seed, i)``: event times
    advance with ``created``; a STREAM_LATE_FRAC share of events is stamped
    up to 30 minutes earlier (late and out of order). Files are written to a
    staging name and renamed into place, so a reader never sees half a file.
    """

    def __init__(self, seed: int, cells: int = STREAM_GRID, per_file: int = STREAM_EVENTS_PER_FILE):
        self.seed = seed
        self.cells = cells
        self.per_file = per_file

    def batch(self, i: int, created: float) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, i])
        n = self.per_file
        ts = np.full(n, int(created * 1e6), dtype=np.int64)
        late = rng.random(n) < STREAM_LATE_FRAC
        ts[late] -= rng.integers(1, 1800 * 10**6, int(late.sum()))
        frp = np.round(rng.gamma(2.0, 8.0, n), 3)
        return pd.DataFrame(
            {
                "ts": ts.astype("datetime64[us]"),
                "cell_x": rng.integers(0, self.cells, n).astype(np.int32),
                "cell_y": rng.integers(0, self.cells, n).astype(np.int32),
                "value": frp,
            }
        )

    @staticmethod
    def write(pdf: pd.DataFrame, directory: str, name: str) -> str:
        table = pa.table(
            {
                "ts": pa.array(pdf["ts"].values, pa.timestamp("us")),
                "cell_x": pa.array(pdf["cell_x"].values, pa.int32()),
                "cell_y": pa.array(pdf["cell_y"].values, pa.int32()),
                "value": pa.array(pdf["value"].values, pa.float64()),
            }
        )
        final = os.path.join(directory, f"{name}.parquet")
        staging = os.path.join(os.path.dirname(directory.rstrip("/")), f".{name}.parquet")
        pq.write_table(table, staging)
        os.replace(staging, final)
        return final

    def props(self) -> dict:
        return {
            "active_cells": self.cells * self.cells,
            "events_per_file": self.per_file,
            "late_frac": STREAM_LATE_FRAC,
        }
