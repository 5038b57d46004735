"""Robustness + determinism: empty inputs keep schemas and don't crash;
re-running a query yields byte-identical results (the idempotent-backfill
contract of SCALE.md)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.model import PIXELS_SCHEMA
from gee_datapipeline_spark.operators.composites import mean_composite
from gee_datapipeline_spark.operators.windows import minmax_normalize, topk_per_group
from gee_datapipeline_spark.functions.geo import proximity_join
from gee_datapipeline_spark.plans import QUERIES
from gee_datapipeline_spark.plans.registry import _load_all

from conftest import SF_SMOKE

_load_all()


@pytest.fixture()
def empty_pixels(spark):
    return spark.createDataFrame([], PIXELS_SCHEMA)


def test_empty_composite(spark, empty_pixels):
    out = mean_composite(empty_pixels, ["x", "y"])
    assert out.count() == 0
    assert set(out.columns) == {"x", "y", "mean_value", "n_obs"}


def test_empty_normalize(spark, empty_pixels):
    out = minmax_normalize(empty_pixels, ["dataset"])
    assert out.count() == 0
    assert "norm_value" in out.columns


def test_empty_topk(spark, empty_pixels):
    out = topk_per_group(
        empty_pixels, ["dataset"], [F.col("value").desc()], k=3
    )
    assert out.count() == 0


def test_empty_proximity_join(spark, empty_pixels):
    pts = spark.createDataFrame(
        [("a", 77.0, 28.0)], ["feature_id", "lon", "lat"]
    )
    out = proximity_join(
        empty_pixels.select("x", "y", "lon", "lat"), pts, radius_km=5.0
    )
    assert out.count() == 0


def _result_hash(df) -> str:
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    lines = sorted(
        "|".join(str(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize(
    "name",
    ["pricing_summary", "mean_composite", "minhash_lsh_pairs",
     "ann_bruteforce", "embedding_centroids"],
)
def test_rerun_determinism(spark, name):
    """Same query, two independent executions → identical bytes
    (different partition/evaluation orders must not leak into results)."""
    q = QUERIES[name].spark
    h1 = _result_hash(q(spark, SF_SMOKE))
    h2 = _result_hash(q(spark, SF_SMOKE))
    assert h1 == h2


def test_corpus_checksum_null_text_parity(spark, tmp_path):
    """NULL document text: Spark's concat_ws would silently skip the
    field while the oracle's || would NULL the row — both sides now
    coalesce, so the checksums stay identical."""
    import duckdb
    import pandas as pd

    from gee_datapipeline_spark.plans import QUERIES
    from gee_datapipeline_spark.plans.registry import _load_all

    _load_all()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["a", "a", "b"],
            "text": ["hello", None, "world"],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    q = QUERIES["corpus_checksum"]
    got = {
        r.source: (r.n_rows, r.checksum)
        for r in q.spark(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2]) for r in con.execute(q.oracle).fetchall()
    }
    assert got == want
    assert got["a"][0] == 2  # the NULL-text row is counted, not dropped


def test_release_scratch_frees_checkpoint_blocks(spark):
    """Session hygiene: after a query's action completes, release_scratch
    unpersists its localCheckpoint scratch so a long-lived session never
    accumulates dead blocks (the r4 bench fix — leftover iterative-query
    scratch showed up as GC latency in later, unrelated queries)."""
    from gee_datapipeline_spark.session import release_scratch

    release_scratch(spark)  # start clean — other tests may leave blocks
    df = spark.range(1000).localCheckpoint(eager=True)
    assert df.count() == 1000
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) >= 1
    del df
    assert release_scratch(spark) >= 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
