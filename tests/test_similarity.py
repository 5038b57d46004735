"""Semantic tests for the LSH-bucketed ANN path against the brute-force
baseline (rows-only in the oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.functions.similarity import (
    ann_lsh_topk,
    decimal_dot,
    l2_norm,
)
from gee_datapipeline_spark.plans.registry import _load_all
from gee_datapipeline_spark.plans import QUERIES

from conftest import SF_SMOKE

_load_all()


def test_decimal_dot_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"]
    )
    r = df.select(decimal_dot(F.col("a"), F.col("b")).alias("d")).collect()
    assert r[0].d == 32.0


def test_l2_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["a"])
    assert df.select(l2_norm(F.col("a")).alias("n")).collect()[0].n == 5.0


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Multi-table LSH top-10 must recover a solid fraction of the exact
    top-10 on the sf0.001 embeddings (recall tuned by tables × planes)."""
    exact_q = QUERIES["ann_bruteforce"].spark(spark, SF_SMOKE)
    exact = {
        (r.q_id, r.neighbor_id) for r in exact_q.collect()
    }
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    approx_q = ann_lsh_topk(emb, probes, k=10, num_tables=8, num_planes=4)
    approx = {(r.q_id, r.neighbor_id) for r in approx_q.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} too low ({len(exact)} exact)"


def test_ann_lsh_multiprobe_lifts_recall(spark):
    """probe_bits=1 must strictly beat probe_bits=0 on the same tables —
    the Hamming-1 fan-out is what buys the ≥0.9 floor."""
    exact_q = QUERIES["ann_bruteforce"].spark(spark, SF_SMOKE)
    exact = {(r.q_id, r.neighbor_id) for r in exact_q.collect()}
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)

    def recall(pb):
        got = {
            (r.q_id, r.neighbor_id)
            for r in ann_lsh_topk(
                emb, probes, k=10, num_tables=8, num_planes=4, probe_bits=pb
            ).collect()
        }
        return len(exact & got) / len(exact)

    assert recall(1) > recall(0)


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF (16 cells, probe 6) must recover a solid fraction of the
    exact top-10 — the complementary scale path to LSH."""
    from gee_datapipeline_spark.functions.similarity import ann_ivf_topk

    exact_q = QUERIES["ann_bruteforce"].spark(spark, SF_SMOKE)
    exact = {(r.q_id, r.neighbor_id) for r in exact_q.collect()}
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    approx_q = ann_ivf_topk(emb, probes, k=10, n_centroids=16, n_probe=6)
    approx = {(r.q_id, r.neighbor_id) for r in approx_q.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low ({len(exact)} exact)"


def test_ann_ivf_deterministic(spark):
    """Seed selection and assignment are hash-derived — two runs give
    identical results (idempotent backfills at scale)."""
    from gee_datapipeline_spark.functions.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3)
    r1 = sorted(
        (r.q_id, r.neighbor_id, r.rk)
        for r in ann_ivf_topk(emb, probes, k=5).collect()
    )
    r2 = sorted(
        (r.q_id, r.neighbor_id, r.rk)
        for r in ann_ivf_topk(emb, probes, k=5).collect()
    )
    assert r1 == r2


def test_ann_lsh_no_self_pairs(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3)
    res = ann_lsh_topk(emb, probes, k=5).collect()
    assert all(r.q_id != r.neighbor_id for r in res)


def test_cosine_zero_norm_guard(spark):
    """Zero-norm vectors get cos_sim 0.0 (never NULL) and ivf_assign
    still gives them a deterministic non-NULL cell."""
    from pyspark.sql import functions as F

    from gee_datapipeline_spark.functions.similarity import (
        cosine,
        ivf_assign,
        l2_norm,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        ["vec_id", "embedding"],
    )
    with_norm = df.withColumn("norm", l2_norm(F.col("embedding")))
    a = with_norm.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        "ida", "idb",
        cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")).alias("c"),
    )
    got = {(r.ida, r.idb): r.c for r in pairs.collect()}
    assert got[(1, 2)] == 0.0 and got[(2, 3)] == 0.0  # zero-norm → 0.0
    assert got[(1, 3)] == 0.0  # orthogonal, genuinely 0
    assert all(v is not None for v in got.values())

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0), (2, [0.0, 1.0], 1.0)],
        ["cid", "c_emb", "c_norm"],
    )
    assigned = {
        r.vec_id: r.cid
        for r in ivf_assign(df, cents, "vec_id", "embedding").collect()
    }
    assert assigned[2] == 1  # zero vector: sim -2 everywhere → lowest cid
    assert assigned[1] == 1 and assigned[3] == 2


def test_ivf_centroids_retrained_per_call_no_artifact(
    spark, tmp_path, monkeypatch
):
    """r11: the cross-run quantizer artifact is gone — every call
    trains in-plan. Exact-mode training is deterministic (repeat calls
    bit-identical) and nothing is written under
    $SPARK_GRAFT_ARTIFACT_DIR even when the legacy env var points
    somewhere writable."""
    import os

    from pyspark.sql import functions as F

    from gee_datapipeline_spark.functions.similarity import ivf_centroids

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5), 1.0]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    cache = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", cache)
    kw = dict(n_centroids=4, lloyd_iters=1, exact=True)
    first = sorted(ivf_centroids(vecs, **kw).collect(), key=lambda r: r.cid)
    again = sorted(ivf_centroids(vecs, **kw).collect(), key=lambda r: r.cid)
    assert [(r.cid, r.c_emb) for r in again] == [
        (r.cid, r.c_emb) for r in first
    ]
    assert not os.path.exists(cache) or not os.listdir(cache), (
        "no quantizer artifact may be persisted"
    )
    # a corpus change simply trains on the new data (no staleness
    # possible when there is nothing cached)
    changed = vecs.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.array(F.lit(9.0), F.lit(9.0),
                                             F.lit(9.0)))
        .otherwise(F.col("embedding")),
    )
    got2 = ivf_centroids(changed, **kw).collect()
    assert got2  # trained successfully on the changed corpus


def test_near_dup_screen_margin_at_threshold(spark, tmp_path):
    """Adversarial gate for the two-stage near-dup plan: pairs engineered
    to land exactly AT, a hair above, and a hair below the cosine
    threshold (where the float64 screen and the decimal re-score could
    disagree) must match the DuckDB oracle row-for-row — proving the
    screen margin never drops a qualifying pair and the decimal
    re-score kills every sub-threshold candidate the screen admits."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    from gee_datapipeline_spark.plans.similarity_queries import NEAR_DUP_COS

    dim = 8
    rng = np.random.default_rng(7)
    th = float(NEAR_DUP_COS)

    def at_angle(c):
        v = np.zeros(dim)
        v[0], v[1] = c, math.sqrt(1.0 - c * c)
        return v

    base = np.zeros(dim)
    base[0] = 1.0
    vecs = [
        base,                         # 0: reference axis
        at_angle(th),                 # 1: exactly at threshold
        at_angle(th + 1e-7),          # 2: inside by less than margin
        at_angle(th - 1e-7),          # 3: outside by less than margin
        at_angle(th + 0.05),          # 4: clearly in
        at_angle(th - 0.05),          # 5: clearly out
        base.copy(),                  # 6: exact duplicate (cos 1)
        np.zeros(dim),                # 7: zero vector (cos defined 0)
    ]
    for _ in range(56):
        vecs.append(rng.normal(size=dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype="int64"),
            "embedding": [np.asarray(v, dtype="float32") for v in vecs],
            "label": np.zeros(len(vecs), dtype="int32"),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")

    q = QUERIES["embedding_near_dup"]
    got = {
        (r.vec_id_a, r.vec_id_b): f"{r.cos_sim:.6f}"
        for r in q.spark(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    want = {
        (r[0], r[1]): f"{r[2]:.6f}"
        for r in con.execute(q.oracle).fetchall()
    }
    assert got == want
    assert (0, 6) in got          # exact duplicate found
    assert (0, 4) in got          # clearly-in pair found
    assert (0, 5) not in got      # clearly-out pair absent
    assert all(0 != b or a != 7 for a, b in got)  # zero vector never pairs


# ------------------------------------------------ PCA power iteration


def test_pca_power_captures_top_variance(spark):
    """The 8-step power iterate must capture >=85% of the top
    eigenvalue's variance (Rayleigh quotient vs numpy eigh) — the
    honest convergence metric on near-isotropic data, where eigenvector
    angle is ill-conditioned but variance capture is what PCA is for."""
    import numpy as np

    from gee_datapipeline_spark.plans import QUERIES
    from gee_datapipeline_spark.plans.registry import _load_all

    _load_all()
    sf = SF_SMOKE
    rows = (
        QUERIES["embedding_pca_power"].spark(spark, sf)
        .orderBy("dim")
        .collect()
    )
    v = np.array([r["loading"] for r in rows])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3

    import duckdb

    emb = duckdb.sql(
        f"SELECT embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    ).fetchnumpy()["embedding"]
    X = np.array([np.asarray(e, dtype=np.float64) for e in emb])
    Xc = X - X.mean(0)
    S = Xc.T @ Xc
    lmax = np.linalg.eigh(S)[0][-1]
    capture = float(v @ S @ v) / lmax
    assert capture >= 0.85, capture


def test_ann_pq_recall_vs_bruteforce(spark):
    """ADC over 8x16 codebooks is lossy; still, PQ top-10 must overlap
    the exact cosine top-10 meaningfully (recall floor 0.2 at smoke
    scale — the gate is the full-oracle bit-match, this is a sanity
    floor that catches inverted distances or scrambled codes)."""
    from gee_datapipeline_spark.plans import QUERIES
    from gee_datapipeline_spark.plans.registry import _load_all

    _load_all()
    sf = SF_SMOKE
    pq = QUERIES["ann_pq"].spark(spark, sf).collect()
    bf = QUERIES["ann_bruteforce"].spark(spark, sf).collect()
    pq_set = {(r["q_id"], r["neighbor_id"]) for r in pq}
    bf_set = {(r["q_id"], r["neighbor_id"]) for r in bf}
    assert pq_set and bf_set
    recall = len(pq_set & bf_set) / len(bf_set)
    assert recall >= 0.2, recall


def test_pca_scatter_gram_tile_matches_explode(spark):
    """The production gram-tile scatter (per-batch NumPy, per-element
    1e12 quantization) must be BIT-identical to the r4 explode form the
    oracle mirrors — same (i, j, s) cells, same doubles."""
    from gee_datapipeline_spark.catalog import load_table
    from gee_datapipeline_spark.functions.stable import stable_avg
    from gee_datapipeline_spark.plans.similarity_queries import (
        _pca_scatter_upper_explode,
        _pca_scatter_upper_gram,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("dim0", "v")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    m = flat.groupBy("dim").agg(
        stable_avg("v", scale=6, dec="decimal(38,12)").alias("mv")
    )
    gram = {
        (r["i"], r["j"]): r["s"]
        for r in _pca_scatter_upper_gram(e, m, use_decimal=False).collect()
    }
    expl = {
        (r["i"], r["j"]): r["s"]
        for r in _pca_scatter_upper_explode(e, m).collect()
    }
    assert gram == expl
    assert len(gram) == 64 * 65 // 2


def test_pca_scatter_decimal_accumulator_boundary(spark):
    """Overflow guard: the DECIMAL(38,0) accumulator must (a) be
    bit-identical to the LONG path wherever the LONG fits, and (b)
    stay exact on a corpus whose quantized product sum exceeds int64
    — rows x |c_i*c_j| x 1e12 > 9.2e18 — where the LONG path would
    wrap (or raise under ANSI)."""
    import numpy as np

    from gee_datapipeline_spark.plans.similarity_queries import (
        _pca_scatter_upper_gram,
        PCA_DIM,
    )

    # (a) equivalence in the safe region, on real data
    from gee_datapipeline_spark.catalog import load_table
    from gee_datapipeline_spark.functions.stable import stable_avg

    e = load_table(spark, SF_SMOKE, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("dim0", "v")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    m = flat.groupBy("dim").agg(
        stable_avg("v", scale=6, dec="decimal(38,12)").alias("mv")
    )
    as_long = {
        (r["i"], r["j"]): r["s"]
        for r in _pca_scatter_upper_gram(e, m, use_decimal=False).collect()
    }
    as_dec = {
        (r["i"], r["j"]): r["s"]
        for r in _pca_scatter_upper_gram(e, m, use_decimal=True).collect()
    }
    assert as_long == as_dec

    # (b) exactness past the int64 boundary: 100 rows of +300 and 100
    # of -300 center to c = +/-300, so every cell sums
    # 200 * 300^2 * 1e12 = 1.8e19 > 2^63.
    n_half, mag = 100, 300.0
    rows = [(i, [mag] * PCA_DIM) for i in range(n_half)]
    rows += [(n_half + i, [-mag] * PCA_DIM) for i in range(n_half)]
    big = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    mb = (
        big.select(F.posexplode("embedding").alias("dim0", "v"))
        .select(
            (F.col("dim0") + 1).alias("dim"),
            F.col("v").cast("double").alias("v"),
        )
        .groupBy("dim")
        .agg(stable_avg("v", scale=6, dec="decimal(38,12)").alias("mv"))
    )
    got = {
        (r["i"], r["j"]): r["s"]
        for r in _pca_scatter_upper_gram(big, mb, use_decimal=True).collect()
    }
    # exact expectation via Python arbitrary-precision int math
    cs = [mag] * n_half + [-mag] * n_half  # mean is exactly 0
    total = sum(int(np.floor(c * c * 1e12 + 0.5)) for c in cs)
    assert total > 2**63  # the test is vacuous unless the LONG wraps
    expect = round(float(total) / 1e12, 6)
    assert got[(1, 1)] == expect
    assert got[(1, 2)] == expect  # constant columns: same everywhere


def test_pq_codes_rebuilt_per_call_no_artifact(spark, tmp_path, monkeypatch):
    """r11: the cross-run PQ code artifact is gone — every call encodes
    in-plan (deterministic, so repeat calls are bit-identical) and
    NOTHING is written under $SPARK_GRAFT_ARTIFACT_DIR even when the
    legacy env var points somewhere writable."""
    import os

    from gee_datapipeline_spark.catalog import load_table
    from gee_datapipeline_spark.plans.similarity_queries import _pq_code_table

    cache = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", cache)
    e = load_table(spark, SF_SMOKE, "embeddings")
    key = lambda rows: sorted((r.vec_id, r.m, r.code) for r in rows)
    first = key(_pq_code_table(e).collect())
    assert key(_pq_code_table(e).collect()) == first  # deterministic
    assert not os.path.exists(cache) or not os.listdir(cache), (
        "no parquet artifact may be persisted for the PQ codes"
    )


# ------------------------------------------------------- kNN join (IVF)


def test_knn_join_recall_vs_numpy_bruteforce(spark):
    """The IVF kNN join must recover a solid fraction of each vector's
    TRUE top-k (exact float cosine via NumPy) on the sf0.001 embeddings
    — the standard IVF recall contract, here measured over EVERY
    vector rather than a probe set."""
    import numpy as np

    got = QUERIES["knn_join_ivf"].spark(spark, SF_SMOKE).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, set()).add(r.neighbor_id)
    pdf = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n = np.linalg.norm(X, axis=1)
    cos = (X @ X.T) / np.where(n[:, None] * n[None, :] > 0,
                               n[:, None] * n[None, :], 1.0)
    np.fill_diagonal(cos, -np.inf)
    hits = total = 0
    k = 5
    for i, q in enumerate(ids):
        true_top = set(ids[np.argsort(-cos[i])[:k]])
        approx = by_q.get(q, set())
        hits += len(true_top & approx)
        total += k
    recall = hits / total
    assert recall >= 0.5, f"kNN-join recall {recall:.2f} too low"


def test_knn_join_shape_contracts(spark):
    """Structural contracts: no self-pairs, at most k neighbors per
    query, ranks are 1..k without gaps, every corpus vector appears as
    a query, and the heavy stage runs through Arrow (FlatMapGroups),
    never a cartesian."""
    df = QUERIES["knn_join_ivf"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    n_vec = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    by_q = {}
    for r in rows:
        assert r.q_id != r.neighbor_id
        by_q.setdefault(r.q_id, []).append(r.rk)
    assert len(by_q) == n_vec
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 5


def test_knn_join_deterministic(spark):
    """Two runs produce identical bytes — quantized-integer scoring plus
    hash-derived quantizer leaves nothing partition- or run-dependent
    (idempotent retrieval-corpus builds)."""
    a = sorted(map(tuple, QUERIES["knn_join_ivf"].spark(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, QUERIES["knn_join_ivf"].spark(spark, SF_SMOKE).collect()))
    assert a == b
