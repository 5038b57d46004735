"""Similarity-search queries over the ``embeddings`` table
(LLM-data-pipeline surface; BASELINE.json north star).

Brute-force cosine top-k is the oracle-checked correctness baseline. The
LSH-bucketed scale path runs the quantized-integer bucket variant in the
gate, so it (and the recall comparison against brute force) is ALSO
fully oracle-checked; only IVF (iterative k-means refinement) remains
rows-only, with recall tests in ``tests/test_similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.similarity import (
    cosine,
    decimal_dot,
    gram_screen_pairs,
    sq_norm,
    sql_cosine,
    sql_decimal_dot,
    sql_decimal_sq_dist_slice,
)
from ..functions.stable import sql_stable_avg, stable_avg, stable_round
from .registry import Query, register

N_QUERIES = 5  # vec_id < 5 are the probe vectors
TOP_K = 10
EMB_DIM = 64  # width of the embeddings fixture vectors
LSH_TABLES, LSH_PLANES = 8, 4  # the ann_lsh query's hyperplane LSH shape


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# -------------------------------------------------------------- norms


def _embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene scan: dimensionality + squared L2 norm per vector
    (catches truncated/unnormalized vectors before they poison ANN)."""
    e = _emb(spark, sf_dir)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(sq_norm(F.col("embedding")), 6).alias("sq_norm"),
    )


register(
    Query(
        name="embedding_norms",
        spark=_embedding_norms,
        oracle=f"""
            SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
                   round({sql_decimal_dot('embedding', 'embedding')}, 6) AS sq_norm
            FROM embeddings
        """,
        tags=("similarity",),
    )
)

# ---------------------------------------------------------- centroids


def _embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids via posexplode → group-by(label, dim) — the
    unpivot-then-aggregate shape that scales (no giant array reduce on a
    single node)."""
    e = _emb(spark, sf_dir)
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    return exploded.groupBy("label", "dim").agg(
        stable_avg("v", scale=6, dec="decimal(38,12)").alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


register(
    Query(
        name="embedding_centroids",
        spark=_embedding_centroids,
        oracle=f"""
            WITH flat AS (
                SELECT label,
                       generate_subscripts(embedding, 1) AS dim,
                       unnest(embedding) AS v
                FROM embeddings
            )
            SELECT label, dim,
                   {sql_stable_avg('v', 6, 'decimal(38,12)')} AS centroid,
                   count(*) AS n_vecs
            FROM flat
            GROUP BY 1, 2
        """,
        tags=("similarity", "aggregation"),
    )
)

# ------------------------------------------------------ brute-force ANN


def _ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the probe vectors.

    Plan shape: the tiny probe set broadcasts; candidates stream through
    a map-side nested-loop against it (no shuffle of the big side until
    the final per-probe top-k window, which is k-bounded)."""
    # Unsplittable-input spread (guide §2.5): the |corpus|x|probes|
    # broadcast cross-score otherwise runs on ONE task.
    e = spread_scan(_emb(spark, sf_dir), spark, "vec_id")
    with_norm = e.withColumn("norm", F.sqrt(sq_norm(F.col("embedding"))))
    probes = (
        with_norm.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    cands = with_norm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    pairs = cands.crossJoin(F.broadcast(probes)).filter(
        F.col("neighbor_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id",
        "neighbor_id",
        F.round(
            cosine(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= TOP_K
    )


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: multi-table hyperplane LSH bucketing + exact
    re-rank (functions.similarity.ann_lsh_topk). The gate runs the
    quantized-integer bucket path (floor(e·2^20) + integer planes) so
    bucket bits are bit-reproducible in DuckDB and the WHOLE pipeline —
    bucketing, Hamming-1 multi-probe, candidate join, exact re-rank —
    carries a full value-hash oracle. Recall vs ann_bruteforce is
    unit-tested for both the float and quantized paths."""
    from ..functions.similarity import ann_lsh_topk

    # (r10 measured: spreading 2 000 vectors before the bucket UDF ran
    # 1.07 → 1.11 s interleaved — flat-to-negative — reverted.)
    e = _emb(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < N_QUERIES)
    return ann_lsh_topk(
        e, probes, k=TOP_K, num_tables=LSH_TABLES, num_planes=LSH_PLANES,
        quantized=True,
    )


def _ann_lsh_oracle() -> str:
    """DuckDB mirror of the quantized ann_lsh pipeline. The integer
    plane matrix is emitted as literal rows (one 64-int list per
    (table, plane) projection) from the SAME seeded generator Spark
    uses, so the two sides cannot drift. Every dot term and partial sum
    is an integer < 2^53, so DuckDB's double-summing list_dot_product
    is exact and the projection signs match numpy's int64 GEMM."""
    from ..functions.similarity import QUANT_SCALE, plane_matrix_int

    dim, num_tables, num_planes = EMB_DIM, LSH_TABLES, LSH_PLANES
    w = plane_matrix_int(dim, num_tables, num_planes)
    rows = ",\n                ".join(
        f"({tp}, [{', '.join(str(int(w[d, tp])) for d in range(dim))}])"
        for tp in range(num_tables * num_planes)
    )
    masks = ", ".join(str(m) for m in [0] + [1 << p for p in range(num_planes)])
    return f"""
            WITH planes(tp, w) AS (VALUES
                {rows}
            ),
            eq AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> floor(CAST(x AS DOUBLE) * {QUANT_SCALE}.0)) AS q
                FROM embeddings
            ),
            bits AS (
                SELECT e.vec_id, p.tp // {num_planes} AS table_id,
                       CASE WHEN list_dot_product(e.q,
                                list_transform(p.w, x -> CAST(x AS DOUBLE))) > 0
                            THEN 1 << (p.tp % {num_planes}) ELSE 0 END AS bit
                FROM eq e CROSS JOIN planes p
            ),
            buckets AS (
                SELECT vec_id, table_id, CAST(sum(bit) AS BIGINT) AS bucket
                FROM bits GROUP BY 1, 2
            ),
            probe_buckets AS (
                SELECT b.vec_id, b.table_id, xor(b.bucket, m.mask) AS bucket
                FROM buckets b
                CROSS JOIN (SELECT unnest([{masks}]) AS mask) m
                WHERE b.vec_id < {N_QUERIES}
            ),
            cand AS (
                SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS neighbor_id
                FROM probe_buckets p
                JOIN buckets c
                  ON p.table_id = c.table_id AND p.bucket = c.bucket
                 AND p.vec_id != c.vec_id
            ),
            base AS (
                SELECT vec_id, embedding,
                       sqrt({sql_decimal_dot('embedding', 'embedding')}) AS norm
                FROM embeddings
            ),
            scored AS (
                SELECT cand.q_id, cand.neighbor_id,
                       round({sql_cosine('a.embedding', 'b.embedding',
                                         'a.norm', 'b.norm')}, 6) AS cos_sim
                FROM cand
                JOIN base a ON a.vec_id = cand.q_id
                JOIN base b ON b.vec_id = cand.neighbor_id
            ),
            ranked AS (
                SELECT q_id, neighbor_id, cos_sim,
                       CAST(row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY cos_sim DESC, neighbor_id ASC
                       ) AS INTEGER) AS rk
                FROM scored
            )
            SELECT q_id, neighbor_id, cos_sim, rk
            FROM ranked WHERE rk <= {TOP_K}
    """


register(
    Query(
        name="ann_lsh",
        spark=_ann_lsh,
        oracle=_ann_lsh_oracle(),
        tags=("similarity", "lsh"),
    )
)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN #2: IVF coarse quantization (deterministic seed
    sample → one k-means refinement → probe the n_probe nearest cells) +
    exact re-rank. Runs in ``exact`` mode (md5 seed order, decimal dot,
    stable Lloyd means) so the ENTIRE pipeline — quantizer training
    included — carries a full value-hash oracle (the unrolled k-means
    mirror below). Recall vs ann_bruteforce is unit-tested; the
    double-dot production scoring path stays covered by
    tests/test_similarity.py determinism tests. Complements ann_lsh:
    IVF adapts to the data distribution (centroids follow density),
    LSH is data-independent.

    The quantizer trains in-plan, every run (r11 — the cross-run
    fingerprint-keyed parquet artifact was ruled result precomputation
    by the r10 verdict). Exact-mode training is deterministic, the full
    training-inclusive oracle below gates it, and the training pipeline
    is separately benched by ``ann_ivf_train`` — which is also the
    deployment amortization story (train once per corpus snapshot,
    serve many)."""
    from ..functions.similarity import ann_ivf_topk, ivf_centroids

    # (r10 measured: spreading the 2 000-row vector table before the
    # assignment ran 1.58 → 1.96 s interleaved — the added exchange
    # outweighs parallelizing this |corpus|'s assignment — reverted.)
    e = _emb(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < N_QUERIES)
    quantizer = ivf_centroids(
        e, n_centroids=IVF_CENTROIDS, lloyd_iters=1, exact=True
    )
    return ann_ivf_topk(
        e,
        probes,
        k=TOP_K,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
        exact=True,
        quantizer=quantizer,
    )


IVF_CENTROIDS = 16
IVF_PROBE = 6


def _ivf_sql_qdot(a: str, b: str) -> str:
    """Integer-quantized dot: Σ floor(aᵢ·2^20)·floor(bᵢ·2^20) — the
    mirror of the Spark assignment's LONG aggregates (exact: every
    partial sum < 2^46)."""
    from ..functions.similarity import QUANT_SCALE

    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST(floor(CAST({a}[i] AS DOUBLE) * {QUANT_SCALE}.0) "
        f"AS BIGINT) * CAST(floor(CAST({b}[i] AS DOUBLE) "
        f"* {QUANT_SCALE}.0) AS BIGINT)))"
    )


def _ivf_sql_qnorm(a: str) -> str:
    return f"sqrt(CAST({_ivf_sql_qdot(a, a)} AS DOUBLE))"


def _ivf_training_ctes() -> str:
    """Shared DuckDB CTE chain mirroring exact-mode quantizer training
    (:func:`gee_datapipeline_spark.functions.similarity.ivf_centroids`):
    md5 seed order → quantized-dot cell assignment → one decimal-stable
    Lloyd mean rounded 6dp. Used by both the training-inclusive
    ``ann_ivf`` oracle and the standalone ``ann_ivf_train`` gate."""
    from ..functions.similarity import sql_decimal_dot

    dd = sql_decimal_dot
    qdot = _ivf_sql_qdot
    qnorm = _ivf_sql_qnorm
    return f"""base AS (
            SELECT vec_id, embedding,
                   sqrt({dd('embedding', 'embedding')}) AS norm
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS cid, embedding AS c_emb, norm AS c_norm
            FROM base
            ORDER BY md5('ivf-seed:' || CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {IVF_CENTROIDS}
        ),
        assign0 AS (
            SELECT vec_id, embedding, cid
            FROM (
                SELECT b.vec_id, b.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY CASE WHEN {qnorm('b.embedding')}
                                         * {qnorm('c.c_emb')} > 0
                                    THEN CAST({qdot('b.embedding', 'c.c_emb')}
                                              AS DOUBLE)
                                         / ({qnorm('b.embedding')}
                                            * {qnorm('c.c_emb')})
                                    ELSE -2.0 END DESC,
                                    c.cid ASC
                       ) AS crk
                FROM base b CROSS JOIN seeds c
            ) WHERE crk = 1
        ),
        flat AS (
            SELECT cid, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
            FROM assign0, unnest(generate_series(1, len(embedding)))
                 AS t(i)
        ),
        cents AS (
            SELECT cid,
                   array_agg(cv ORDER BY dim) AS c_emb,
                   sqrt(CAST(list_sum(list_transform(
                       array_agg(cv ORDER BY dim),
                       x -> CAST(x * x AS DECIMAL(38,12))
                   )) AS DOUBLE)) AS c_norm
            FROM (
                SELECT cid, dim,
                       round(CAST(sum(CAST(v AS DECIMAL(38,12)))
                                  AS DOUBLE) / count(v), 6) AS cv
                FROM flat GROUP BY cid, dim
            ) GROUP BY cid
        )"""


def _ann_ivf_oracle() -> str:
    """DuckDB mirror of the exact-mode IVF pipeline: seed sample by md5
    order → one Lloyd step (decimal-stable means, rounded 6dp) → 1-probe
    indexing / 6-probe querying against the SHARED quantizer → exact
    decimal-cosine re-rank. Every float accumulation is decimal, every
    ordering carries a total tie-break, so the centroid trajectory and
    the final top-k are bit-identical across engines."""
    from ..functions.similarity import sql_cosine

    qdot = _ivf_sql_qdot
    qnorm = _ivf_sql_qnorm

    def assign(src: str, n_keep: int, out_id: str, out_emb: str) -> str:
        """Rank ``src`` rows (vec_id, embedding, norm) against cents by
        the quantized similarity; carry the TRUE norm for re-ranking."""
        return f"""
            SELECT {out_id}, {out_emb}, norm AS {out_emb.replace('emb', 'norm')}, cid
            FROM (
                SELECT s.vec_id AS {out_id}, s.embedding AS {out_emb},
                       s.norm, c.cid,
                       row_number() OVER (
                           PARTITION BY s.vec_id
                           ORDER BY CASE WHEN {qnorm('s.embedding')}
                                         * {qnorm('c.c_emb')} > 0
                                    THEN CAST({qdot('s.embedding', 'c.c_emb')}
                                              AS DOUBLE)
                                         / ({qnorm('s.embedding')}
                                            * {qnorm('c.c_emb')})
                                    ELSE -2.0 END DESC,
                                    c.cid ASC
                       ) AS crk
                FROM {src} s CROSS JOIN cents c
            ) WHERE crk <= {n_keep}"""

    return f"""
        WITH {_ivf_training_ctes()},
        cells AS ({assign(
            'base', 1, 'neighbor_id', 'n_emb'
        )}),
        probe_cells AS ({assign(
            f'(SELECT * FROM base WHERE vec_id < {N_QUERIES})',
            IVF_PROBE, 'q_id', 'q_emb'
        )}),
        scored AS (
            SELECT DISTINCT q_id, neighbor_id,
                   round({sql_cosine('q_emb', 'n_emb', 'q_norm', 'n_norm')},
                         6) AS cos_sim
            FROM probe_cells JOIN cells USING (cid)
            WHERE q_id <> neighbor_id
        )
        SELECT q_id, neighbor_id, cos_sim, rk
        FROM (
            SELECT q_id, neighbor_id, cos_sim,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos_sim DESC, neighbor_id ASC
                   ) AS INTEGER) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """


register(
    Query(
        name="ann_ivf",
        spark=_ann_ivf,
        oracle=_ann_ivf_oracle(),
        tags=("similarity", "ivf"),
    )
)


def _ann_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone gate for IVF quantizer TRAINING: md5-ordered seed
    sample → quantized-dot cell assignment → one decimal-stable Lloyd
    step. Emits the trained centroid matrix flattened to (cid, dim,
    c_val) scalars so the value-hash compares cell-by-cell. This keeps
    the training pipeline under a full oracle of its own; ``ann_ivf``
    runs the same :func:`ivf_centroids` training inside its plan."""
    from ..functions.similarity import ivf_centroids

    e = _emb(spark, sf_dir)
    cents = ivf_centroids(
        e, n_centroids=IVF_CENTROIDS, lloyd_iters=1, exact=True
    )
    return cents.select(
        "cid", F.posexplode("c_emb").alias("dim", "c_val")
    )


def _ann_ivf_train_oracle() -> str:
    return f"""
        WITH {_ivf_training_ctes()}
        SELECT cid, i - 1 AS dim, CAST(c_emb[i] AS DOUBLE) AS c_val
        FROM cents, unnest(generate_series(1, len(c_emb))) AS t(i)
    """


register(
    Query(
        name="ann_ivf_train",
        spark=_ann_ivf_train,
        oracle=_ann_ivf_train_oracle(),
        tags=("similarity", "ivf"),
    )
)

# ------------------------------------------------ embedding near-dup pairs

NEAR_DUP_COS = 0.35  # sized to the synthetic table: ~0.1% of pairs qualify


NEAR_DUP_BLOCKS = 8
# Prefilter slack: the rounded-to-6dp gate admits exact cosines down to
# threshold - 5e-7, and float64-matmul vs decimal-fold summation differ
# by ~1e-13 relative — 1e-5 covers both with orders of magnitude to
# spare, while discarding essentially every true negative.
_NEAR_DUP_MARGIN = 1e-5


def _near_dup_candidates(e: DataFrame) -> DataFrame:
    """Block-nested-loop exact all-pairs screen: assign each vector to
    one of NEAR_DUP_BLOCKS blocks, replicate each row to every block
    pair it participates in (NB-fold narrow fan-out, the analog of the
    classic block-matmul tiling), and screen each (i, j) tile with ONE
    vectorized NumPy gram-matrix product inside applyInPandas. Work per
    tile is dense BLAS over ~2n/NB vectors; the shuffle is NB·n rows —
    the optimal layout for an inherently quadratic exact screen, and
    the tile count scales with cluster width at 100 TB."""
    import numpy as np
    import pandas as pd

    nb = NEAR_DUP_BLOCKS
    cut = float(NEAR_DUP_COS) - _NEAR_DUP_MARGIN

    rep = (
        e.select(
            "vec_id",
            "embedding",
            F.pmod(F.col("vec_id"), F.lit(nb)).alias("b"),
            F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("o"),
        )
        .select(
            "vec_id",
            "embedding",
            "b",
            F.least("b", "o").alias("pi"),
            F.greatest("b", "o").alias("pj"),
        )
    )

    def screen(key, pdf):  # noqa: ANN001 — pandas-UDF contract
        pi, pj = int(key[0]), int(key[1])
        left = pdf[pdf["b"] == pi]
        right = pdf[pdf["b"] == pj] if pi != pj else left
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"vec_id_a": [], "vec_id_b": []}).astype(
                {"vec_id_a": "int64", "vec_id_b": "int64"}
            )
        lo, hi = gram_screen_pairs(
            left["vec_id"].to_numpy(),
            np.stack(left["embedding"].to_numpy()).astype("float64"),
            right["vec_id"].to_numpy(),
            np.stack(right["embedding"].to_numpy()).astype("float64"),
            cut,
            # Diagonal tile compares a block against itself: keep only
            # the strict upper triangle so each unordered pair emits
            # once. Off-diagonal ids come from different residue
            # classes (never equal) and orient by min/max.
            upper=(pi == pj),
        )
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi})

    return rep.groupBy("pi", "pj").applyInPandas(
        screen, "vec_id_a long, vec_id_b long"
    )


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection (the dedup family's
    semantic variant): all unordered pairs with cosine ≥ threshold.

    Exact, in two stages: a block-matmul screen over every pair in
    float64 with a safety margin (``_near_dup_candidates`` — dense BLAS
    per tile, never a per-pair expression fold), then a decimal-exact
    re-score of the tiny survivor set so the output is bit-identical to
    the oracle's summation. The r3 single-stage form evaluated the
    decimal fold on all n²/2 pairs through interpreted higher-order
    functions — 188 s at sf0.1 vs ~4 s for this plan, same rows.

    The 100 TB path is the same predicate over LSH/IVF candidate pairs
    (ann_lsh / ann_ivf), which reduce the cross product further to
    bucket-local joins; this block screen is the exact-recall fallback.
    """
    e = _emb(spark, sf_dir)
    cand = _near_dup_candidates(e)
    with_norm = e.select(
        "vec_id", "embedding", F.sqrt(sq_norm(F.col("embedding"))).alias("norm")
    )
    a = with_norm.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = a.join(F.broadcast(cand), "vec_id_a").join(
        b, "vec_id_b"
    )
    scored = pairs.select(
        "vec_id_a",
        "vec_id_b",
        F.round(
            cosine(
                F.col("emb_a"), F.col("emb_b"), F.col("norm_a"), F.col("norm_b")
            ),
            6,
        ).alias("cos_sim"),
    )
    return scored.filter(F.col("cos_sim") >= NEAR_DUP_COS)


register(
    Query(
        name="embedding_near_dup",
        spark=_embedding_near_dup,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, embedding,
                       sqrt({sql_decimal_dot('embedding', 'embedding')}) AS norm
                FROM embeddings
            ),
            scored AS (
                SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                       round({sql_cosine('a.embedding', 'b.embedding', 'a.norm', 'b.norm')},
                             6) AS cos_sim
                FROM base a JOIN base b ON a.vec_id < b.vec_id
            )
            SELECT * FROM scored WHERE cos_sim >= {NEAR_DUP_COS}
        """,
        tags=("similarity", "dedup", "join"),
    )
)


_BRUTEFORCE_ORACLE = f"""
            WITH base AS (
                SELECT vec_id, embedding,
                       sqrt({sql_decimal_dot('embedding', 'embedding')}) AS norm
                FROM embeddings
            ),
            probes AS (
                SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
                FROM base WHERE vec_id < {N_QUERIES}
            ),
            pairs AS (
                SELECT q_id, c.vec_id AS neighbor_id,
                       round({sql_cosine('q_emb', 'c.embedding', 'q_norm', 'c.norm')},
                             6) AS cos_sim
                FROM probes CROSS JOIN base c
                WHERE c.vec_id != q_id
            )
            SELECT q_id, neighbor_id, cos_sim, rk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rk
                FROM pairs
            ) WHERE rk <= {TOP_K}
"""


register(
    Query(
        name="ann_bruteforce",
        spark=_ann_bruteforce,
        oracle=_BRUTEFORCE_ORACLE,
        tags=("similarity", "join", "window"),
    )
)

def _ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LSH scale path vs exact brute force, as a gate row
    the driver can watch round-over-round. Multi-probe (Hamming-1)
    keeps this ≥0.9 (measured 0.98 at sf0.01, 1.0 at sf0.001); the
    floor is asserted in tests/test_similarity.py. Now that the LSH
    side runs the quantized-integer bucket path, BOTH sides are
    SQL-expressible and the recall number itself is oracle-checked."""
    exact = _ann_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    approx = _ann_lsh(spark, sf_dir).select("q_id", "neighbor_id")
    hits = exact.join(approx, ["q_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            # nullif: an empty probe set (empty corpus partition) makes
            # recall 0/0 — NULL in DuckDB, ANSI error in Spark without
            # the guard (caught by the empty-input sweep).
            F.round(
                F.col("n_hit")
                / F.nullif(F.col("n_exact"), F.lit(0)),
                4,
            ).alias("recall"),
        )
    )


register(
    Query(
        name="ann_lsh_recall",
        spark=_ann_lsh_recall,
        # Composition of the two oracle-checked pipelines: the recall
        # number is recomputed end-to-end in DuckDB.
        oracle=f"""
            WITH exact AS (
                SELECT q_id, neighbor_id FROM ({_BRUTEFORCE_ORACLE})
            ),
            approx AS (
                SELECT q_id, neighbor_id FROM ({_ann_lsh_oracle()})
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
                   (SELECT CAST(count(*) AS BIGINT) FROM exact e
                     WHERE EXISTS (SELECT 1 FROM approx a
                                   WHERE a.q_id = e.q_id
                                     AND a.neighbor_id = e.neighbor_id)
                   ) AS n_hit,
                   round(
                       (SELECT count(*) FROM exact e
                         WHERE EXISTS (SELECT 1 FROM approx a
                                       WHERE a.q_id = e.q_id
                                         AND a.neighbor_id = e.neighbor_id))
                       / (SELECT count(*) FROM exact), 4) AS recall
        """,
        tags=("similarity", "ann", "recall"),
    )
)

# ------------------------------------------------------- semantic dedup

SEM_C = 8  # deterministic seed centroids: embeddings of vec_id < SEM_C
SEM_TAU = 0.30  # within-cluster near-dup cosine threshold


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every vector to its nearest seed centroid, then drop any vector that
    has a same-cluster neighbor with smaller vec_id and cosine ≥ τ.

    Scale shape: centroids broadcast (tiny), assignment is a map-side
    nested loop + partial-aggregate argmax (no quadratic stage); the
    near-dup check is cluster-local, so the pairwise cost is bounded by
    the largest cluster, never n² — exactly why SemDeDup clusters first.
    Seeds are the SEM_C smallest vec_ids (no Lloyd iterations), which
    keeps the whole pipeline SQL-expressible for the oracle; the
    iterative-refinement variant of the same quantizer is ann_ivf."""
    # Unsplittable-input spread (guide §2.5): the localCheckpoint below
    # PRESERVES partitioning, so without the spread the xSEM_C
    # assignment cross-score downstream would still run on ONE task.
    e = spread_scan(_emb(spark, sf_dir), spark, "vec_id")
    # with_norm has FIVE consumers (cents, the assignment cross-score,
    # the assigned join, and both re-score sides a/b) — lazily each
    # re-scanned the embeddings parquet and recomputed the norm (8
    # embedding scans in the r10 before-plan). One scan + one norm
    # pass (guide §2.4).
    with_norm = e.select(
        "vec_id", "embedding", F.sqrt(sq_norm(F.col("embedding"))).alias("norm")
    ).localCheckpoint(eager=True)
    cents = with_norm.filter(F.col("vec_id") < SEM_C).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = with_norm.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "c_id",
        F.round(
            cosine(
                F.col("embedding"), F.col("c_emb"), F.col("norm"), F.col("c_norm")
            ),
            6,
        ).alias("c_cos"),
    )
    # argmax with deterministic tie-break (highest cos, then lowest c_id):
    # max(struct) gets map-side partial aggregation, unlike a window.
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("c_cos"), (-F.col("c_id")).alias("neg_c"))).alias(
            "b"
        )
    )
    # assigned feeds both the cluster-local screen and the final keep
    # report — lazily the ×SEM_C assignment cross-score (the dominant
    # stage) ran twice. Materialize it once (guide §2.4).
    assigned = (
        best.select(
            "vec_id",
            (-F.col("b.neg_c")).alias("cluster_id"),
            F.col("b.c_cos").alias("centroid_cos"),
        )
        .join(with_norm, "vec_id")
        .localCheckpoint(eager=True)
    )
    # Cluster-local near-dup pairs, two-stage like embedding_near_dup:
    # per-cluster NumPy gram-matrix screen with a float64 margin
    # (applyInPandas — one shuffle keyed on cluster_id, dense BLAS per
    # cluster), then a decimal-exact re-score of the survivors so the
    # kept/dropped decision is bit-identical to the oracle. The
    # single-stage form evaluated the interpreted decimal fold on every
    # within-cluster pair.
    import numpy as np
    import pandas as pd

    sem_cut = float(SEM_TAU) - 1e-5

    def screen(key, pdf):  # noqa: ANN001 — pandas-UDF contract
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id_a": [], "vec_id_b": []}).astype(
                {"vec_id_a": "int64", "vec_id_b": "int64"}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        lo, hi = gram_screen_pairs(ids, mat, ids, mat, sem_cut, upper=True)
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi})

    cand = (
        assigned.select("vec_id", "cluster_id", "embedding")
        .groupBy("cluster_id")
        .applyInPandas(screen, "vec_id_a long, vec_id_b long")
    )
    a = with_norm.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    dropped = (
        a.join(F.broadcast(cand), "vec_id_a")
        .join(b, "vec_id_b")
        .filter(
            F.round(
                cosine(
                    F.col("emb_a"), F.col("emb_b"), F.col("norm_a"), F.col("norm_b")
                ),
                6,
            )
            >= SEM_TAU
        )
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cluster_id", "centroid_cos")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "centroid_cos",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


register(
    Query(
        name="semantic_dedup",
        spark=_semantic_dedup,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, embedding,
                       sqrt({sql_decimal_dot('embedding', 'embedding')}) AS norm
                FROM embeddings
            ),
            cents AS (
                SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
                FROM base WHERE vec_id < {SEM_C}
            ),
            scored AS (
                SELECT b.vec_id, c.c_id,
                       round({sql_cosine('b.embedding', 'c.c_emb',
                                         'b.norm', 'c.c_norm')}, 6) AS c_cos
                FROM base b CROSS JOIN cents c
            ),
            assigned AS (
                SELECT vec_id, c_id AS cluster_id, c_cos AS centroid_cos
                FROM (
                    SELECT vec_id, c_id, c_cos,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY c_cos DESC, c_id ASC
                           ) AS rk
                    FROM scored
                ) WHERE rk = 1
            ),
            pairs AS (
                SELECT DISTINCT bb.vec_id
                FROM assigned aa
                JOIN base ba ON ba.vec_id = aa.vec_id
                JOIN assigned bb ON aa.cluster_id = bb.cluster_id
                                AND aa.vec_id < bb.vec_id
                JOIN base bbv ON bbv.vec_id = bb.vec_id
                WHERE round({sql_cosine('ba.embedding', 'bbv.embedding',
                                        'ba.norm', 'bbv.norm')}, 6)
                      >= {SEM_TAU}
            )
            SELECT a.vec_id, a.cluster_id, a.centroid_cos,
                   (p.vec_id IS NULL) AS keep
            FROM assigned a LEFT JOIN pairs p ON a.vec_id = p.vec_id
        """,
        tags=("similarity", "dedup", "semantic"),
    )
)

# -------------------------------------------------- product quantization

PQ_M = 8  # subspaces (64-dim embeddings → 8 dims per subspace)
PQ_SUB = 8  # dims per subspace
PQ_K = 16  # codebook entries per subspace: subvectors of vec_id < PQ_K


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): each vector is
    split into PQ_M subvectors and each subvector mapped to its nearest
    codebook entry (L2), compressing 64 floats to 8 code bytes — the
    memory layout IVF-PQ ANN serving actually ships.

    Scale shape: the codebook (PQ_M×PQ_K subvectors) broadcasts; encode
    is a narrow map stage (explode by subspace → broadcast NL → partial
    min-aggregate) plus one vec_id-keyed reassembly aggregate. Exact
    decimal distance accumulation keeps the argmin — and therefore the
    emitted codes — bit-identical across engines and partitionings.
    Codebook entries are deterministic seeds (vec_id < PQ_K), the same
    no-Lloyd convention as semantic_dedup; k-means refinement of the
    same structure is ann_ivf's quantizer."""
    from ..functions.similarity import decimal_sq_dist_slice

    e = _emb(spark, sf_dir)
    cb = e.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k_id"), F.col("embedding").alias("c_emb")
    )
    sub = e.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    )
    start = F.col("m") * PQ_SUB + 1
    d = sub.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "m",
        "k_id",
        decimal_sq_dist_slice(
            F.col("embedding"), F.col("c_emb"), start, PQ_SUB
        ).alias("dist"),
    )
    # argmin (dist, then k_id) with map-side partial aggregation.
    best = d.groupBy("vec_id", "m").agg(
        F.min(F.struct(F.col("dist"), F.col("k_id"))).alias("b")
    )
    return best.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("m"), F.col("b.k_id")))
                ),
                lambda s: s["k_id"].cast("string"),
            ),
        ).alias("pq_code"),
        stable_round(
            F.sum(F.col("b.dist")).cast("double"), 6
        ).alias("quant_err"),
    )


register(
    Query(
        name="pq_codes",
        spark=_pq_codes,
        oracle=f"""
            WITH cb AS (
                SELECT vec_id AS k_id, embedding AS c_emb
                FROM embeddings WHERE vec_id < {PQ_K}
            ),
            sub AS (
                SELECT vec_id, embedding,
                       unnest(generate_series(0, {PQ_M - 1})) AS m
                FROM embeddings
            ),
            d AS (
                SELECT s.vec_id, s.m, c.k_id,
                       {sql_decimal_sq_dist_slice('s.embedding', 'c.c_emb',
                                                  's.m * ' + str(PQ_SUB) + ' + 1',
                                                  PQ_SUB)} AS dist
                FROM sub s CROSS JOIN cb c
            ),
            best AS (
                SELECT vec_id, m, k_id, dist
                FROM (
                    SELECT vec_id, m, k_id, dist,
                           row_number() OVER (
                               PARTITION BY vec_id, m
                               ORDER BY dist ASC, k_id ASC
                           ) AS rk
                    FROM d
                ) WHERE rk = 1
            )
            SELECT vec_id,
                   array_to_string(list(k_id ORDER BY m), '-') AS pq_code,
                   floor(CAST(sum(dist) AS DOUBLE)
                         * 1000000.0 + 0.5) / 1000000.0 AS quant_err
            FROM best
            GROUP BY 1
        """,
        tags=("similarity", "quantization"),
    )
)


def _pq_code_table(e: DataFrame) -> DataFrame:
    """(vec_id, m, code) — the PQ-encoded corpus (exact decimal argmin
    per subvector, deterministic, so every run's encode is bit-identical
    and the training-inclusive oracle stays valid). ``ann_pq`` encodes
    in-plan every run; the encode is separately gated by ``pq_codes``.
    On a real deployment the code table is a persisted model artifact
    rebuilt once per corpus snapshot."""
    from ..functions.similarity import decimal_sq_dist_slice

    cb = e.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k_id"), F.col("embedding").alias("c_emb")
    )
    sub = e.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    )
    d = sub.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "m",
        "k_id",
        decimal_sq_dist_slice(
            F.col("embedding"), F.col("c_emb"), F.col("m") * PQ_SUB + 1,
            PQ_SUB,
        ).alias("dist"),
    )
    return (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("dist"), F.col("k_id"))).alias("b"))
        .select("vec_id", "m", F.col("b.k_id").alias("code"))
    )


def _ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: asymmetric distance computation (ADC) top-k.

    The serving-side half of product quantization (Jégou et al. 2011):
    the corpus lives as 8-byte PQ codes (``pq_codes``'s encode), and a
    probe is answered WITHOUT touching any corpus float — per probe, a
    PQ_M×PQ_K table of subvector distances to the codebook is computed
    once (640 tiny rows for 5 probes), broadcast, and each candidate's
    distance is the sum of 8 table lookups selected by its codes.

    Plan shape at 100 TB: the codebook and per-probe lookup tables are
    O(M·K) and broadcast; the corpus-side cost is one narrow pass over
    the code table (N·M rows) into a map-side-combinable (q, candidate)
    hash aggregate, then a k-bounded per-probe window. No corpus floats
    move, no quadratic stage. The code table is encoded in-plan per run
    (r11 — the cross-run parquet artifact was ruled result
    precomputation; the encode pass remains separately gated and
    benched by ``pq_codes``, the deployment amortization story, and the
    exact decimal argmin keeps every run bit-identical). Ranking
    compares the EXACT
    decimal ADC sums (order-independent), so top-k membership is
    bit-reproducible; the rounded double is display-only.
    """
    from ..functions.similarity import decimal_sq_dist_slice

    e = _emb(spark, sf_dir)
    cb = e.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k_id"), F.col("embedding").alias("c_emb")
    )
    codes = _pq_code_table(e)
    grid = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    )
    lut = grid.crossJoin(F.broadcast(cb)).select(
        "q_id",
        "m",
        "k_id",
        decimal_sq_dist_slice(
            F.col("q_emb"), F.col("c_emb"), F.col("m") * PQ_SUB + 1, PQ_SUB
        ).alias("ldist"),
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            on=[codes["m"] == lut["m"], codes["code"] == lut["k_id"]],
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ldist").alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "q_id",
            "neighbor_id",
            stable_round(F.col("adc").cast("double"), 6).alias(
                "adc_dist"
            ),
            "rk",
        )
    )


register(
    Query(
        name="ann_pq",
        spark=_ann_pq,
        oracle=f"""
            WITH cb AS (
                SELECT vec_id AS k_id, embedding AS c_emb
                FROM embeddings WHERE vec_id < {PQ_K}
            ),
            sub AS (
                SELECT vec_id, embedding,
                       unnest(generate_series(0, {PQ_M - 1})) AS m
                FROM embeddings
            ),
            d AS (
                SELECT s.vec_id, s.m, c.k_id,
                       {sql_decimal_sq_dist_slice('s.embedding', 'c.c_emb',
                                                  's.m * ' + str(PQ_SUB) + ' + 1',
                                                  PQ_SUB)} AS dist
                FROM sub s CROSS JOIN cb c
            ),
            codes AS (
                SELECT vec_id, m, k_id AS code FROM (
                    SELECT vec_id, m, k_id,
                           row_number() OVER (
                               PARTITION BY vec_id, m
                               ORDER BY dist ASC, k_id ASC
                           ) AS rk
                    FROM d
                ) WHERE rk = 1
            ),
            grid AS (
                SELECT q.vec_id AS q_id, q.embedding AS q_emb, g.m
                FROM embeddings q
                CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1}))
                            AS m) g
                WHERE q.vec_id < {N_QUERIES}
            ),
            lut AS (
                SELECT g.q_id, g.m, c.k_id,
                       {sql_decimal_sq_dist_slice('g.q_emb', 'c.c_emb',
                                                  'g.m * ' + str(PQ_SUB) + ' + 1',
                                                  PQ_SUB)} AS ldist
                FROM grid g CROSS JOIN cb c
            ),
            adc AS (
                SELECT l.q_id, c.vec_id AS neighbor_id, sum(l.ldist) AS adc
                FROM codes c
                JOIN lut l ON c.m = l.m AND c.code = l.k_id
                WHERE c.vec_id <> l.q_id
                GROUP BY 1, 2
            )
            SELECT q_id, neighbor_id,
                   floor(CAST(adc AS DOUBLE) * 1000000.0 + 0.5)
                       / 1000000.0 AS adc_dist, rk
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY adc ASC, neighbor_id ASC) AS rk
                FROM adc
            ) WHERE rk <= {TOP_K}
        """,
        tags=("similarity", "quantization", "ann"),
    )
)


# ------------------------------------------------ PCA via power iteration

PCA_DIM = 64
PCA_ITERS = 8

# sum(|p|) across the corpus is bounded by rows · max|c_i·c_j| · 1e12;
# int64 caps at 9.2e18, so unit-scale embeddings (|c| ≲ 1) leave >2×
# headroom at this row count. Past it the same batch partials are
# summed as DECIMAL(38,0) — bit-identical where both fit (the property
# test pins that), never silently wrapping.
_PCA_LONG_SAFE_ROWS = 4_000_000


def _pca_scatter_upper_gram(e: DataFrame, m: DataFrame,
                            use_decimal: bool) -> DataFrame:
    """Upper-triangle quantized scatter matrix (i, j, s) via per-batch
    NumPy gram tiles: one Arrow pass over the corpus, each batch
    folding its rows into ONE 64×64 int64 tile (einsum outer products,
    per-ELEMENT floor(c_i·c_j·1e12 + 0.5) quantization — the exact
    per-product rounding the oracle performs, so the artifact is
    bit-identical to the explode form), then a 2080-key Spark sum over
    tile entries. Shuffle volume is 2080 rows per Arrow batch instead
    of 2080 structs per corpus ROW — the form the r4 docstring already
    named as the 100 TB layout (`gram_screen_pairs` precedent).

    Per-batch int64 partials are safe while rows/batch · max|c_i·c_j|
    · 1e12 < 9.2e18 — at the 10k-row Arrow default that means
    |c| < ~30, far beyond any unit-scale embedding."""
    import numpy as np
    import pandas as pd

    means = np.zeros(PCA_DIM, dtype=np.float64)
    for r in m.collect():  # 64 rows — dimension-sized, never corpus
        means[r["dim"] - 1] = float(r["mv"])

    def tiles(batches):  # noqa: ANN001 — mapInPandas contract
        iu_i, iu_j = np.triu_indices(PCA_DIM)
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]  # NULL rows contribute
            if len(pdf) == 0:                    # nothing, as in the
                continue                         # explode form
            v = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            c = v - means
            acc = np.zeros((PCA_DIM, PCA_DIM), dtype=np.int64)
            for s0 in range(0, len(c), 512):  # bound the r×64×64 tensor
                ch = c[s0:s0 + 512]
                outer = np.einsum("ri,rj->rij", ch, ch)
                acc += (
                    np.floor(outer * 1e12 + 0.5).astype(np.int64).sum(axis=0)
                )
            yield pd.DataFrame(
                {"i": iu_i + 1, "j": iu_j + 1, "p": acc[iu_i, iu_j]}
            )

    tile_rows = e.select("embedding").mapInPandas(tiles, "i int, j int, p long")
    p_sum = (
        F.sum(F.col("p").cast("decimal(38,0)"))
        if use_decimal
        else F.sum("p")
    )
    return tile_rows.groupBy("i", "j").agg(
        stable_round(p_sum.cast("double") / F.lit(1e12), 6).alias("s")
    )


def _pca_scatter_upper_explode(e: DataFrame, m: DataFrame) -> DataFrame:
    """The r4 explode form of the same artifact — per corpus row, 2080
    upper-triangle quantized products through interpreted SQL
    expressions. Kept as the test mirror for the gram-tile path (the
    oracle mirrors this algebra 1:1); ~5× slower, no longer the
    production plan."""
    marr = m.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))),
            lambda s: s["mv"],
        ).alias("marr")
    )
    pairs = (
        e.crossJoin(F.broadcast(marr))
        .select(
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, {PCA_DIM}), i ->
                        transform(sequence(i, {PCA_DIM}), j -> struct(
                            i AS i, j AS j,
                            cast(floor(
                                (cast(element_at(embedding, i) AS double)
                                  - element_at(marr, i))
                                 * (cast(element_at(embedding, j) AS double)
                                    - element_at(marr, j))
                                 * 1e12 + 0.5) AS bigint) AS p))))"""
                )
            ).alias("x")
        )
        .select("x.i", "x.j", "x.p")
    )
    return pairs.groupBy("i", "j").agg(
        stable_round(
            F.sum("p").cast("double") / F.lit(1e12), 6
        ).alias("s")
    )


def _embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding corpus: centered scatter
    matrix + ``PCA_ITERS`` unrolled power-iteration steps, as pure
    DataFrame algebra (no MLlib — every step is mirrored bit-for-bit by
    the DuckDB oracle, the same discipline as ``ann_ivf_train``'s
    k-means).

    Scale shape: the ONLY corpus-sized stage is the scatter-matrix
    aggregate — per-batch NumPy gram tiles (``_pca_scatter_upper_gram``;
    2080 int64 tile entries per Arrow batch, per-element 1e12
    quantization so the artifact matches the oracle's per-product
    algebra bit-for-bit). The 64×64 result folds to ONE row and every
    power step runs as nested higher-order-function expressions with
    LET-bound intermediates — zero joins, shuffles, broadcasts, or
    checkpoint jobs after the scatter aggregate (the r4 form paid 8
    eager checkpoint jobs here; 5.8 s → 1.2 s at sf0.1).

    Determinism: means are decimal-stable averages; scatter entries
    accumulate as 1e12-quantized LONGs rounded to 6 dp, with the
    DECIMAL(38,0) accumulator engaged automatically past
    ``_PCA_LONG_SAFE_ROWS`` so a 100 TB corpus can't silently wrap the
    int64; each iterate is re-quantized to 12 dp through the floor-form
    half-up round (identical IEEE ops on both engines), so the
    eigenvector converges to the same bits everywhere. Sign convention:
    the component with the largest |loading| (ties → smallest dim) is
    made positive."""
    # (r10 measured: a pre-aggregate spread of the 2 000-row vector
    # table ran 1.15 → 1.80 s in the interleaved A/B — the exchange +
    # the e.count() job it drags in cost more than the parallel scatter
    # saves at this |corpus| — so the single-pass form stands.)
    e = _emb(spark, sf_dir)
    flat = e.select(F.posexplode("embedding").alias("dim0", "v")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("v").cast("double").alias("v")
    )
    m = flat.groupBy("dim").agg(
        stable_avg("v", scale=6, dec="decimal(38,12)").alias("mv")
    )
    s_up = _pca_scatter_upper_gram(
        e, m, use_decimal=e.count() > _PCA_LONG_SAFE_ROWS
    )
    s_full = s_up.unionAll(
        s_up.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("s")
        )
    )

    # Fold the 4096-cell scatter into ONE row (a 64×64 array-of-arrays)
    # and run every power step as higher-order-function expressions:
    # zip_with multiply + decimal-accumulator aggregate reproduce the
    # oracle's sum(CAST(s·v AS DECIMAL(38,12))) per dimension exactly,
    # with ZERO joins, shuffles, broadcasts, or checkpoints in the
    # iteration — the r4 form paid 8 eager checkpoint jobs (~2 s of
    # fixed overhead) to iterate over what is a 32 KB artifact. The
    # whole query is now one linear job after the scatter aggregate.
    smat = (
        s_full.groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "j", "s"))).alias(
                "cells"
            )
        )
        .filter(F.size("cells") > 0)  # empty corpus → 0 rows, as before
        .select(
            F.expr(
                f"""transform(sequence(1, {PCA_DIM}), i ->
                        transform(sequence(1, {PCA_DIM}), j ->
                            cells[(i-1) * {PCA_DIM} + (j-1)].s)) AS smat"""
            ),
            F.expr(
                f"transform(sequence(1, {PCA_DIM}), i -> 0.125d) AS v"
            ),
        )
    )
    # All PCA_ITERS steps nest into ONE expression, with every
    # intermediate (the previous iterate vp, the un-normalized w) bound
    # through a single-element-array transform lambda — the
    # expression-level LET. A lambda VARIABLE is a materialized value,
    # read O(1) however many times the body references it; had each
    # step instead read the previous iterate as a projected COLUMN,
    # CollapseProject would inline the whole upstream chain into the
    # zip_with lambda and interpreted evaluation would re-run it per
    # array element — a measured 64× cost per step (0.8 s → 15 s by
    # step 3). This form evaluates each step exactly once: ~40k decimal
    # ops total, one row, one stage.
    def _let(value_expr: str, var: str, body: str) -> str:
        return (
            f"element_at(transform(array({value_expr}), {var} -> {body}), 1)"
        )

    v_expr = "v"
    for _ in range(PCA_ITERS):
        w_body = """transform(smat, row -> round(cast(
            aggregate(zip_with(row, vp, (s, vv) -> s * vv),
                      cast(0 as decimal(38,12)),
                      (acc, x) -> cast(acc + cast(x as decimal(38,12))
                                       as decimal(38,12)))
            as double), 12))"""
        # nullif: a zero iterate (zero scatter matrix, or v exactly in
        # S's null space) must yield NULL loadings in BOTH engines, not
        # an ANSI DIVIDE_BY_ZERO that kills the job — DuckDB's double
        # x/0 is already NULL, so nullif is the Spark-side mirror.
        norm_body = """transform(w, wi -> floor(wi / nullif(sqrt(cast(
            aggregate(w, cast(0 as decimal(38,12)),
                      (acc, x) -> cast(acc + cast(x * x as decimal(38,12))
                                       as decimal(38,12)))
            as double)), 0.0d) * 1e12 + 0.5) / 1e12)"""
        v_expr = _let(v_expr, "vp", _let(w_body, "w", norm_body))
    # Sign convention via one fold over the 64-element iterate: the
    # entry with the largest |loading| (ties → smallest dim) is made
    # positive — same rule as the oracle's ORDER BY abs(v) DESC LIMIT 1.
    # The converged iterate and the winning entry are LET-bound too, so
    # the posexplode below never duplicates the chain.
    best_body = f"""aggregate(
            zip_with(vf, sequence(1, {PCA_DIM}),
                     (vv, d) -> struct(vv AS v, d AS dim)),
            cast(null as struct<v: double, dim: int>),
            (acc, x) -> case
                when acc is null then x
                when abs(x.v) > abs(acc.v) then x
                when abs(x.v) = abs(acc.v) and x.dim < acc.dim then x
                else acc end)"""
    signed = _let(
        best_body,
        "b",
        "transform(vf, x -> floor(x * (case when b.v < 0 then -1.0d"
        " else 1.0d end) * 1e6 + 0.5) / 1e6)",
    )
    loading_expr = _let(v_expr, "vf", signed)
    return smat.select(
        F.posexplode(F.expr(loading_expr)).alias("dim0", "loading")
    ).select((F.col("dim0") + 1).alias("dim"), "loading")


def _pca_oracle() -> str:
    it = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        it.append(f"""
            w{t} AS MATERIALIZED (
                SELECT s.i AS dim,
                       round(CAST(sum(CAST(s.s * {prev}.v
                                           AS DECIMAL(38,12))) AS DOUBLE),
                             12) AS w
                FROM sfull s JOIN {prev} ON s.j = {prev}.dim
                GROUP BY 1
            ),
            n{t} AS MATERIALIZED (
                SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12)))
                                 AS DOUBLE)) AS nrm
                FROM w{t}
            ),
            v{t} AS MATERIALIZED (
                SELECT dim, floor((w / nrm) * 1e12 + 0.5) / 1e12 AS v
                FROM w{t} CROSS JOIN n{t}
            )""")
        prev = f"v{t}"
    iters_sql = ",".join(it)
    return f"""
        WITH flat AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        m AS MATERIALIZED (
            SELECT dim, {sql_stable_avg('v', 6, 'decimal(38,12)')} AS mv
            FROM flat GROUP BY 1
        ),
        cent AS MATERIALIZED (
            SELECT f.vec_id, f.dim AS i, f.v - m.mv AS c
            FROM flat f JOIN m ON f.dim = m.dim
        ),
        pairs AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j,
                   CAST(floor(a.c * b.c * 1e12 + 0.5) AS BIGINT) AS p
            FROM cent a JOIN cent b
              ON a.vec_id = b.vec_id AND a.i <= b.i
        ),
        s_up AS MATERIALIZED (
            SELECT i, j,
                   floor(CAST(sum(p) AS DOUBLE) / 1e12
                         * 1000000.0 + 0.5) / 1000000.0 AS s
            FROM pairs GROUP BY 1, 2
        ),
        sfull AS MATERIALIZED (
            SELECT i, j, s FROM s_up
            UNION ALL
            SELECT j AS i, i AS j, s FROM s_up WHERE i <> j
        ),
        v0 AS MATERIALIZED (
            SELECT DISTINCT i AS dim, 0.125 AS v FROM sfull
        ),{iters_sql},
        ref AS (
            SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn
            FROM v{PCA_ITERS} ORDER BY abs(v) DESC, dim ASC LIMIT 1
        )
        SELECT dim, floor(v * sgn * 1e6 + 0.5) / 1e6 AS loading
        FROM v{PCA_ITERS} CROSS JOIN ref
    """


register(
    Query(
        name="embedding_pca_power",
        spark=_embedding_pca_power,
        oracle=_pca_oracle(),
        tags=("similarity", "decomposition"),
    )
)


# ------------------------------------------- centroid outlier filter


# Off-topic screen threshold: a vector pointing AWAY from its own
# label centroid (negative cosine) is flagged — the SemDeDup-companion
# curation step that catches mislabeled/off-topic members before they
# poison a per-label training slice.
OUTLIER_COS = 0.0


def _embedding_outlier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid-distance outlier screen over the embedding
    corpus (the off-topic filter step of an embedding-based curation
    pipeline, e.g. CLIP-score-style filtering re-expressed for a
    labeled corpus).

    Plan shape at 100 TB: one unpivot aggregate builds the
    (|labels| × dim)-bounded centroid table — map-side combinable,
    shuffle carries at most labels×dim rows per task — which is then
    re-assembled into arrays and BROADCAST; scoring is a single narrow
    pass over the corpus (broadcast hash join + codegen arithmetic),
    so the corpus is never shuffled on a data-dependent key.

    Cross-engine exactness: the sf0.1 sweep caught a row whose
    decimal-dot cosine landed 1 ulp apart across engines exactly on a
    6-dp rounding midpoint (0.0814695) — no rounding form can survive
    that, so the score is the family's integer-quantized cosine
    (``floor(v·2^20)`` components — the ×2^20 multiply is exact in
    IEEE, floor has no midpoint; dots and square norms are exact int64
    sums), making the raw score bit-identical in both engines before
    any rounding. Centroid components are decimal-stable 6-dp means
    cast to double (one correctly-rounded conversion of the same
    rational on each engine).
    """
    from ..functions.similarity import QUANT_SCALE

    e = _emb(spark, sf_dir)
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    cent = flat.groupBy("label", "dim").agg(
        stable_avg("v", scale=6, dec="decimal(38,12)")
        .cast("double")
        .alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )
    zero = F.lit(0).cast("long")

    def quant(arr):
        return F.transform(
            arr,
            lambda x: F.floor(
                x.cast("double") * F.lit(float(QUANT_SCALE))
            ).cast("long"),
        )

    def qdot(qa, qb):
        return F.aggregate(
            F.zip_with(qa, qb, lambda a, b: a * b),
            zero,
            lambda acc, x: acc + x,
        )

    qe = quant(F.col("embedding"))
    qc = quant(F.col("centroid"))
    denom = F.sqrt(qdot(qe, qe).cast("double")) * F.sqrt(
        qdot(qc, qc).cast("double")
    )
    cos = F.when(
        denom > 0, qdot(qe, qc).cast("double") / denom
    ).otherwise(F.lit(0.0))
    return (
        e.join(F.broadcast(carr), "label")
        .select(
            "vec_id",
            "label",
            stable_round(cos, 6).alias("centroid_cos"),
            (cos < F.lit(OUTLIER_COS)).alias("is_outlier"),
        )
    )


register(
    Query(
        name="embedding_outlier_filter",
        spark=_embedding_outlier_filter,
        oracle=f"""
            WITH flat AS (
                SELECT label,
                       generate_subscripts(embedding, 1) AS dim,
                       unnest(embedding) AS v
                FROM embeddings
            ),
            cent AS (
                SELECT label, dim,
                       CAST({sql_stable_avg('v', 6, 'decimal(38,12)')}
                            AS DOUBLE) AS c
                FROM flat GROUP BY 1, 2
            ),
            carr AS (
                SELECT label, list(c ORDER BY dim) AS centroid
                FROM cent GROUP BY 1
            )
            , scored AS (
                SELECT e.vec_id, e.label,
                       CASE WHEN ({_ivf_sql_qnorm('e.embedding')}
                                  * {_ivf_sql_qnorm('c.centroid')}) > 0
                            THEN CAST({_ivf_sql_qdot(
                                'e.embedding', 'c.centroid')} AS DOUBLE)
                                 / ({_ivf_sql_qnorm('e.embedding')}
                                    * {_ivf_sql_qnorm('c.centroid')})
                            ELSE 0.0 END AS cos
                FROM embeddings e JOIN carr c USING (label)
            )
            SELECT vec_id, label,
                   floor(cos * 1000000.0 + 0.5) / 1000000.0
                       AS centroid_cos,
                   (cos < {OUTLIER_COS!r}) AS is_outlier
            FROM scored
        """,
        tags=("similarity", "curation", "llm-pipeline"),
        doc="Per-label centroid outlier screen: bounded unpivot agg, "
        "broadcast centroid artifact, one narrow scoring pass",
    )
)


# ----------------------------------------- full kNN join (every vector)


KNN_K = 5
KNN_NPROBE = 4


def _knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN JOIN: top-``KNN_K`` neighbors for EVERY corpus vector — the
    retrieval-corpus build (kNN-LM, RETRO: each training example ships
    with its nearest neighbors) — not a probe-set lookup like
    ``ann_ivf``. One exact-mode IVF assignment pass serves both sides
    (``c_rank=1`` rows are the index side, ``c_rank<=n_probe`` rows the
    query fan-out); each cell computes its probe x member block as an
    exact int64 NumPy gram tile in ``applyInPandas``; a per-query
    window merges the <= n_probe*k per-cell survivors. Work is
    sum-over-cells of |cell_probes| x |cell_members| — the IVF
    contract, never corpus-quadratic. The quantizer trains in-plan,
    identically to ``ann_ivf`` (deterministic exact mode).

    Scoring is the integer-quantized cosine (floor(v*2^20) dots over
    float64 norms) end to end, so every score is bit-identical across
    NumPy, Spark and DuckDB with no float-boundary margin arguments."""
    from ..functions.similarity import ivf_centroids, knn_join_ivf

    # (r10 measured: the _ann_ivf spread revert applies here too,
    # 1.25 → 1.33 s interleaved — reverted.)
    e = _emb(spark, sf_dir)
    quantizer = ivf_centroids(
        e, n_centroids=IVF_CENTROIDS, lloyd_iters=1, exact=True
    )
    return knn_join_ivf(
        e,
        k=KNN_K,
        n_probe=KNN_NPROBE,
        n_centroids=IVF_CENTROIDS,
        quantizer=quantizer,
    )


def _knn_join_oracle() -> str:
    qdot = _ivf_sql_qdot
    qnorm = _ivf_sql_qnorm
    qcos = (
        f"CASE WHEN {qnorm('p.q_emb')} * {qnorm('m.n_emb')} > 0 "
        f"THEN CAST({qdot('p.q_emb', 'm.n_emb')} AS DOUBLE) "
        f"/ ({qnorm('p.q_emb')} * {qnorm('m.n_emb')}) "
        f"ELSE -2.0 END"
    )
    return f"""
        WITH {_ivf_training_ctes()},
        assign AS (
            SELECT vec_id, embedding, cid, crk
            FROM (
                SELECT b.vec_id, b.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY CASE WHEN {qnorm('b.embedding')}
                                         * {qnorm('c.c_emb')} > 0
                                    THEN CAST({qdot('b.embedding', 'c.c_emb')}
                                              AS DOUBLE)
                                         / ({qnorm('b.embedding')}
                                            * {qnorm('c.c_emb')})
                                    ELSE -2.0 END DESC,
                                    c.cid ASC
                       ) AS crk
                FROM base b CROSS JOIN cents c
            ) WHERE crk <= {KNN_NPROBE}
        ),
        probes AS (
            SELECT vec_id AS q_id, embedding AS q_emb, cid FROM assign
        ),
        members AS (
            SELECT vec_id AS neighbor_id, embedding AS n_emb, cid
            FROM assign WHERE crk = 1
        ),
        scored AS (
            SELECT p.q_id, m.neighbor_id, {qcos} AS sim
            FROM probes p JOIN members m USING (cid)
            WHERE p.q_id <> m.neighbor_id
        )
        SELECT q_id, neighbor_id, rk,
               sign(sim) * (floor(abs(sim) * 1000000.0 + 0.5)
                            / 1000000.0) AS cos_sim
        FROM (
            SELECT q_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY sim DESC, neighbor_id ASC
                   ) AS INTEGER) AS rk
            FROM scored
        ) WHERE rk <= {KNN_K}
    """


register(
    Query(
        name="knn_join_ivf",
        spark=_knn_join_ivf,
        oracle=_knn_join_oracle(),
        tags=("similarity", "ivf", "knn-join", "llm-pipeline"),
        doc="full kNN join (top-k neighbors for every vector) via "
        "shared-quantizer IVF cells + exact int64 gram tiles; "
        "bit-exact quantized-cosine scoring",
    )
)
