"""Embedding similarity primitives (LLM-data-pipeline surface).

Dot products are computed elementwise in double then accumulated through
``DECIMAL(38,12)`` (see ``functions.stable`` for why: exact associative
addition makes the result identical across engines and partitionings).
All of it is Catalyst higher-order functions over ``array<float>`` —
JVM-side, no Python in the loop.

Scale notes (100 TB): brute-force top-k is quadratic in row count — it is
the *correctness baseline*. The scale path is LSH bucketing
(``hyperplane_buckets_pdf`` signs → equi-join on bucket id), which
turns the cross join into a per-bucket join; recall is tested against the
brute-force baseline in ``tests/``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,12)"


def decimal_dot(a: Column, b: Column) -> Column:
    """Order-independent dot product of two float arrays, as double."""
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)
    )
    total = F.aggregate(
        prods,
        F.lit(0).cast(_DEC),
        lambda acc, v: (acc + v).cast(_DEC),
    )
    return total.cast("double")


def double_dot(a: Column, b: Column) -> Column:
    """Plain-double dot product. Still run-to-run deterministic (the
    elementwise fold is sequential within a row — no partitioning
    dependence) but NOT bit-identical to other engines' summation
    orders. Use for internal scoring (e.g. IVF cell assignment) where
    only self-consistency matters; use :func:`decimal_dot` for anything
    hash-compared against an oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm(a: Column) -> Column:
    return decimal_dot(a, a)


def l2_norm(a: Column) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """Cosine similarity given precomputed L2 norms (precompute per side
    before a join so norms aren't recomputed per pair). A zero-norm
    vector has no direction: its similarity is defined as 0.0 (never
    NULL), so downstream top-k ranks such rows last instead of silently
    dropping or NULL-ranking them."""
    denom = a_norm * b_norm
    return F.when(denom > 0, decimal_dot(a, b) / denom).otherwise(F.lit(0.0))


def sql_decimal_dot(a: str, b: str) -> str:
    """DuckDB mirror of :func:`decimal_dot` (1-based list indexing)."""
    return (
        f"cast(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"AS DECIMAL(38,12)))) as double)"
    )


def sql_cosine(a: str, b: str, a_norm: str, b_norm: str) -> str:
    """DuckDB mirror of :func:`cosine`, including the zero-norm guard."""
    return (
        f"CASE WHEN ({a_norm} * {b_norm}) > 0 "
        f"THEN {sql_decimal_dot(a, b)} / ({a_norm} * {b_norm}) "
        f"ELSE 0.0 END"
    )


def decimal_sq_dist_slice(
    a: Column, b: Column, start: Column, length: int
) -> Column:
    """Order-independent squared L2 distance between ``length``-element
    subvectors of two float arrays beginning at 1-based index ``start``
    (for product quantization). Elementwise math in double (IEEE, same
    in every engine), accumulation in exact decimal — bit-reproducible
    regardless of partitioning, like :func:`decimal_dot`."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(length - 1)),
        F.lit(0).cast(_DEC),
        lambda acc, i: (
            acc
            + F.pow(
                F.element_at(a, start + i).cast("double")
                - F.element_at(b, start + i).cast("double"),
                2,
            ).cast(_DEC)
        ).cast(_DEC),
    )


def sql_decimal_sq_dist_slice(a: str, b: str, start: str, length: int) -> str:
    """DuckDB mirror of :func:`decimal_sq_dist_slice` (1-based)."""
    return (
        f"list_sum(list_transform(generate_series(0, {length - 1}), "
        f"i -> CAST(pow(CAST({a}[({start}) + i] AS DOUBLE) "
        f"- CAST({b}[({start}) + i] AS DOUBLE), 2) AS DECIMAL(38,12))))"
    )


# ----------------------------------------------- hyperplane LSH (scale path)


PLANE_SEED = 0x5EED_1AB5

# Quantization scale for the integer bucket path: a power of two, so
# float × scale is a pure exponent shift (EXACT in IEEE double) and the
# projection sign is decided by integer arithmetic both engines agree on.
QUANT_SCALE = 1 << 20


def _plane_matrix(dim: int, num_tables: int, num_planes: int):
    """Deterministic hyperplane matrix (dim × tables·planes) — same
    bytes on every executor/run (seeded PCG64), no stored model."""
    import numpy as np

    rng = np.random.default_rng(PLANE_SEED)
    return rng.uniform(-1.0, 1.0, size=(dim, num_tables * num_planes))


def plane_matrix_int(dim: int, num_tables: int, num_planes: int):
    """Integer hyperplane matrix (entries in [-512, 512)) for the
    quantized bucket path: embeddings are floor(e · 2^20)-quantized and
    the projection sign comes from an int64 dot product — every product
    and partial sum stays < 2^53, so even an engine summing in doubles
    (DuckDB's list_dot_product) gets the EXACT integer. That removes
    the float-summation-order sign flips that would make a cross-engine
    oracle flaky near a hyperplane. Direction distribution is uniform
    enough for LSH (512 levels/axis); recall is asserted in tests."""
    import numpy as np

    rng = np.random.default_rng(PLANE_SEED)
    return rng.integers(
        -512, 512, size=(dim, num_tables * num_planes)
    ).astype(np.int64)


def hyperplane_buckets_pdf(
    vectors: DataFrame, num_tables: int, num_planes: int, quantized: bool
) -> DataFrame:
    """Bucket ids via ONE Arrow-batched matrix multiply per partition.

    The per-(table, plane) dot products are a dense (N × dim) @ (dim ×
    T·P) GEMM — exactly the shape where a vectorized pandas UDF beats
    Catalyst aggregates (measured 3.4 s → ~0.2 s for 2 000 × 64 at 32
    planes, against a 32-sum posexplode + groupBy form). Narrow:
    buckets are computed where the vector partition lives, no shuffle.
    Returns (vec_id, table_id, bucket), one row per table."""
    import numpy as np
    import pandas as pd

    schema = "vec_id long, table_id int, bucket long"

    def run(batches):
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            embs = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            if planes is None:
                planes = (
                    plane_matrix_int(embs.shape[1], num_tables, num_planes)
                    if quantized
                    else _plane_matrix(embs.shape[1], num_tables, num_planes)
                )
            if quantized:
                embs = np.floor(embs * QUANT_SCALE).astype(np.int64)
            bits = (embs @ planes) > 0  # N × (T·P)
            weights = (1 << np.arange(num_planes)).astype(np.int64)
            buckets = (
                bits.reshape(len(pdf), num_tables, num_planes) @ weights
            )  # N × T
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, num_tables),
                    "table_id": np.tile(
                        np.arange(num_tables, dtype=np.int32), len(pdf)
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(run, schema)


# ------------------------------------------------------ IVF (scale path #2)


def _with_norm(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("__id"),
        F.col(emb_col).alias("__emb"),
        F.sqrt(sq_norm(F.col(emb_col))).alias("__norm"),
    )


def ivf_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 16,
    lloyd_iters: int = 1,
    exact: bool = False,
) -> DataFrame:
    """Train the IVF coarse quantizer as pure DataFrame algebra.

    ``exact=True`` makes every step cross-engine reproducible (for the
    oracle gate): the seed sample orders by md5 hex instead of xxhash64,
    cell assignment scores with the order-independent decimal dot, and
    the Lloyd mean is the decimal-stable average rounded to 6 — so a
    DuckDB mirror computes bit-identical centroids.

    1. *seed*: the ``n_centroids`` vectors with the smallest
       ``xxhash64('ivf-seed', id)`` — a deterministic uniform sample, no
       stored model, reproducible across runs/partitionings. Planned as
       TakeOrderedAndProject (k-bounded, no global sort/window).
    2. *refine* (``lloyd_iters`` k-means steps): every vector keeps its
       nearest centroid (broadcast-NL against the tiny centroid table)
       and the per-cluster mean (posexplode → groupBy(cid, dim) →
       rebuild array) becomes the next centroid. Each step is one
       bounded shuffle; the centroid table is localCheckpointed between
       steps so the plan stays flat.

    Returns ``(cid, c_emb array<double>, c_norm)`` — O(n_centroids × dim)
    rows, always broadcastable.
    """
    base = _with_norm(vectors, id_col, emb_col)
    seed_hash = (
        F.md5(F.concat(F.lit("ivf-seed:"), F.col("__id").cast("string")))
        if exact
        else F.xxhash64(F.lit("ivf-seed"), F.col("__id"))
    )
    # orderBy().limit() plans TakeOrderedAndProject (k-bounded, no
    # global sort). cid only needs to be unique, deterministic and
    # orderable (it's a join key + tie-break downstream) — the seed
    # row's own id is all three, so no global row_number window (and
    # no single-partition WindowExec) is needed at all.
    centroids = (
        base.withColumn("__h", seed_hash)
        .orderBy("__h", "__id")
        .limit(n_centroids)
        .select(
            F.col("__id").alias("cid"),
            F.col("__emb").alias("c_emb"),
            F.col("__norm").alias("c_norm"),
        )
    )
    plain = base.select(
        F.col("__id").alias(id_col), F.col("__emb").alias(emb_col)
    )
    for step in range(lloyd_iters):
        assigned = ivf_assign(
            plain, centroids, id_col, emb_col, n_probe=1, exact=exact
        )
        flat = assigned.select(
            "cid", F.posexplode(emb_col).alias("dim", "v")
        )
        if exact:
            from .stable import stable_avg

            mean_v = stable_avg(
                F.col("v").cast("double"), scale=6, dec="decimal(38,12)"
            )
        else:
            mean_v = F.avg(F.col("v").cast("double"))
        centroids = (
            flat.groupBy("cid", "dim")
            .agg(mean_v.alias("cv"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"],
                ).alias("c_emb")
            )
            .withColumn("c_norm", F.sqrt(sq_norm(F.col("c_emb"))))
        )
        if step < lloyd_iters - 1:
            centroids = centroids.localCheckpoint(eager=True)
    # The trained quantizer is O(n_centroids × dim) rows and every
    # caller references it at least twice (index side + probe side) —
    # materialize it so training never re-runs per reference. This is
    # the "stored model" of IVF, kept as a tiny DataFrame.
    return centroids.localCheckpoint(eager=True)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_probe: int = 1,
    exact: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine.

    Broadcast against the tiny centroid table (linear in rows, never
    quadratic in them) + a k-bounded per-vector window.
    Returns ``(id, emb, norm, cid, c_rank)``, ``c_rank ∈ [1, n_probe]``.

    ``exact=False`` (production): per-pair ``double_dot`` fold —
    self-consistent scores, fastest single-expression form.
    ``exact=True`` (oracle gate): order-independent decimal scores,
    restructured as posexplode → broadcast equi-join on dim → codegen'd
    hash aggregate. Decimal addition is associative, so the aggregate
    computes the IDENTICAL value as a sequential decimal fold — but
    stays inside whole-stage codegen instead of the interpreted-HOF
    path (the ~2.5× ann_ivf slowdown the first exact gate showed).
    Map-side partial aggregation collapses each vector's 64×n_centroids
    product rows back to n_centroids rows before any shuffle."""
    from pyspark.sql import Window

    base = _with_norm(df, id_col, emb_col)
    # Zero-norm vectors score -2.0 (below any cosine) so they land in a
    # deterministic cell via the cid tie-break instead of NULL-ranking.
    if exact:
        # Everything N-sized runs on the integer-quantized fast path
        # (the LSH QUANT_SCALE pattern): qv = floor(v·2^20) as BIGINT,
        # scores = Σ qv·qcv in LONG hash aggregates — exact integer
        # arithmetic both engines reproduce bit-for-bit (|v| < 1 ⇒
        # every partial sum < 2^46), and ~5× faster than DECIMAL
        # aggregation, which has no fast path above precision 18.
        # Quantization only decides CELL MEMBERSHIP; reported
        # similarities (and the output ``norm``) stay true decimal
        # cosine on the candidate-sized side. Inputs to the quantizer
        # are bit-identical doubles in both engines, so floor() cannot
        # straddle differently.
        vflat = df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(emb_col).alias("dim", "v"),
        )
        qv = F.floor(F.col("v").cast("double") * QUANT_SCALE).cast("long")
        vq = vflat.select("__id", "dim", qv.alias("qv"))
        vnorm = vq.groupBy("__id").agg(
            F.sqrt(F.sum(F.col("qv") * F.col("qv")).cast("double")).alias(
                "__qn"
            )
        )
        cq = centroids.select(
            "cid", F.posexplode("c_emb").alias("dim", "cv")
        ).select(
            "cid",
            "dim",
            F.floor(F.col("cv").cast("double") * QUANT_SCALE)
            .cast("long")
            .alias("qcv"),
        )
        cnorm = cq.groupBy("cid").agg(
            F.sqrt(F.sum(F.col("qcv") * F.col("qcv")).cast("double")).alias(
                "__qcn"
            )
        )
        scored = (
            vq.join(F.broadcast(cq), "dim")
            .groupBy("__id", "cid")
            .agg(F.sum(F.col("qv") * F.col("qcv")).alias("__qdot"))
            .join(vnorm, "__id")
            .join(F.broadcast(cnorm), "cid")
            .withColumn(
                "__sim",
                F.when(
                    F.col("__qn") * F.col("__qcn") > 0,
                    F.col("__qdot").cast("double")
                    / (F.col("__qn") * F.col("__qcn")),
                ).otherwise(F.lit(-2.0)),
            )
        )
        w = Window.partitionBy("__id").orderBy(
            F.col("__sim").desc(), F.col("cid").asc()
        )
        ranked = (
            scored.withColumn("c_rank", F.row_number().over(w))
            .filter(F.col("c_rank") <= n_probe)
            .select("__id", "cid", "c_rank")
        )
        return ranked.join(
            df.select(
                F.col(id_col).alias("__id"), F.col(emb_col).alias("__emb")
            ),
            "__id",
        ).select(
            F.col("__id").alias(id_col),
            F.col("__emb").alias(emb_col),
            F.sqrt(sq_norm(F.col("__emb"))).alias("norm"),
            "cid",
            "c_rank",
        )
    denom = F.col("__norm") * F.col("c_norm")
    scored = base.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim",
        F.when(
            denom > 0,
            double_dot(F.col("__emb"), F.col("c_emb")) / denom,
        ).otherwise(F.lit(-2.0)),
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__sim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("c_rank", F.row_number().over(w))
        .filter(F.col("c_rank") <= n_probe)
        .select(
            F.col("__id").alias(id_col),
            F.col("__emb").alias(emb_col),
            F.col("__norm").alias("norm"),
            "cid",
            "c_rank",
        )
    )


def ann_ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    exact: bool = False,
    quantizer: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF coarse quantization,
    over ``(vec_id, embedding)`` rows on both sides.

    One quantizer, trained on the base vectors (or passed pre-trained
    via ``quantizer``, e.g. one :func:`ivf_centroids` table shared by
    several calls), shared by both sides
    (probes assigned against foreign centroids — NOT their own). Base
    vectors live in exactly one cell (``n_probe=1``); probes fan out to
    their ``n_probe`` nearest cells; candidates are the equi-join on
    ``cid`` — the cross product shrinks to the probed cells only. Exact
    cosine re-rank on the candidates, k-bounded window per probe.
    Recall vs ``ann_bruteforce`` is measured in tests/test_similarity.py.
    """
    from pyspark.sql import Window

    if quantizer is None:
        quantizer = ivf_centroids(
            vectors, n_centroids=n_centroids, lloyd_iters=1, exact=exact
        )
    cells = ivf_assign(
        vectors, quantizer, n_probe=1, exact=exact
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        "cid",
    )
    probe_cells = ivf_assign(
        probes, quantizer, n_probe=n_probe, exact=exact
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        "cid",
    )
    cand = probe_cells.join(cells, on="cid").filter(
        F.col("q_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "q_id",
        "neighbor_id",
        F.round(
            cosine(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ),
            6,
        ).alias("cos_sim"),
    ).dropDuplicates(["q_id", "neighbor_id"])
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def ann_lsh_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    num_tables: int = 8,
    num_planes: int = 4,
    probe_bits: int = 1,
    quantized: bool = False,
) -> DataFrame:
    """Approximate top-k cosine neighbors via multi-table hyperplane LSH
    with Hamming-1 multi-probe, over ``(vec_id, embedding)`` rows.

    Plan: bucket via the codegen'd aggregate path → equi-join on
    (table_id, bucket) → distinct candidate pairs → exact cosine
    re-rank, top-k per probe. Against brute force this replaces the full
    cross product with per-bucket joins.

    ``probe_bits=1`` also probes, per table, every bucket whose code
    differs in one plane sign (the standard multi-probe trick: a near
    neighbor most often misses a bucket by exactly one marginal
    hyperplane). Only the PROBE side fans out (×(1+num_planes) rows
    pre-join) — the vector index is built once, so at scale the extra
    cost is per-query, not per-corpus. Recall vs brute force is asserted
    ≥0.9 in tests/test_similarity.py."""
    from pyspark.sql import Window

    def banded(
        df: DataFrame, id_alias: str, emb_alias: str, fanout: bool
    ) -> DataFrame:
        base = df.select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(emb_alias),
            F.sqrt(sq_norm(F.col("embedding"))).alias(f"{id_alias}_norm"),
        )
        buckets = hyperplane_buckets_pdf(
            df, num_tables, num_planes, quantized
        ).withColumnRenamed("vec_id", id_alias)
        if fanout and probe_bits >= 1:
            variants = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                    for p in range(num_planes)
                ],
            )
            buckets = buckets.select(
                id_alias,
                "table_id",
                F.explode(variants).alias("bucket"),
            )
        return base.join(buckets, on=id_alias)

    p = banded(probes, "q_id", "q_emb", fanout=True)
    c = banded(vectors, "neighbor_id", "c_emb", fanout=False)
    cand = (
        p.join(c, on=["table_id", "bucket"])
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select(
            "q_id", "q_emb", "q_id_norm", "neighbor_id", "c_emb",
            "neighbor_id_norm",
        )
        .dropDuplicates(["q_id", "neighbor_id"])
    )
    scored = cand.select(
        "q_id",
        "neighbor_id",
        F.round(
            cosine(
                F.col("q_emb"),
                F.col("c_emb"),
                F.col("q_id_norm"),
                F.col("neighbor_id_norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def gram_screen_pairs(ids_a, mat_a, ids_b, mat_b, cut, upper=False):
    """Vectorized cosine screen over one tile of an exact all-pairs
    scan: dense gram-matrix product in float64, threshold at ``cut``
    (callers pass the gate threshold MINUS a safety margin and
    decimal-rescore survivors, so float64-vs-decimal summation error
    can never drop a qualifying pair). Zero-norm vectors have cosine
    0.0 by definition, matching :func:`cosine`.

    With ``upper=True`` the two sides are the same block and only the
    strict upper triangle (id_a < id_b) is kept — one emission per
    unordered pair. Returns (lo, hi) int64 id arrays oriented min/max.
    """
    import numpy as np

    na = np.linalg.norm(mat_a, axis=1)
    nb = np.linalg.norm(mat_b, axis=1)
    denom = np.outer(na, nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0, (mat_a @ mat_b.T) / denom, 0.0)
    m = cos >= cut
    if upper:
        m &= ids_a[:, None] < ids_b[None, :]
    ii, jj = np.nonzero(m)
    xa, xb = ids_a[ii], ids_b[jj]
    return (
        np.minimum(xa, xb).astype("int64"),
        np.maximum(xa, xb).astype("int64"),
    )


def knn_join_ivf(
    vectors: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_centroids: int = 16,
    quantizer: DataFrame | None = None,
) -> DataFrame:
    """Full kNN JOIN: top-k quantized-cosine neighbors for EVERY
    ``(vec_id, embedding)`` row
    (the retrieval-corpus build behind kNN-LM / RETRO — not a probe-set
    query like :func:`ann_ivf_topk`, which answers for a handful of
    external probes).

    Shape: ONE exact-mode IVF assignment pass serves both sides — the
    ``c_rank = 1`` rows are the member (index) side, all ``c_rank <=
    n_probe`` rows are the query fan-out — then each cell computes its
    probe x member similarity block as a NumPy int64 gram tile inside
    ``applyInPandas`` (vectors quantized to ``floor(v * 2^20)``, so the
    tile is exact integer arithmetic both engines reproduce bit-for-bit)
    and keeps k rows per probe; a final per-query window merges the
    <= n_probe * k survivors. Nothing is ever quadratic in the corpus:
    work is sum over cells of |cell_probes| x |cell_members|, the IVF
    contract (n_centroids grows ~sqrt(N) at scale, cells partition).

    Determinism: scores are integer dots divided by float64 norms —
    every op IEEE-identical in NumPy, Spark and DuckDB — with
    (score DESC, neighbor ASC) total tie-break at both stages; per-cell
    top-k then global top-k is exactly the global top-k because members
    belong to one cell each (no duplicate candidates)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    assign = ivf_assign(
        vectors,
        quantizer
        if quantizer is not None
        else ivf_centroids(
            vectors, n_centroids=n_centroids, lloyd_iters=1, exact=True
        ),
        n_probe=n_probe,
        exact=True,
    )
    tagged = assign.select(
        "cid",
        F.col("c_rank"),
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("emb"),
    )

    out_schema = "q_id long, neighbor_id long, sim double"

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        emb = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        q = np.floor(emb * QUANT_SCALE).astype(np.int64)
        qn = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        ids = pdf["vid"].to_numpy()
        is_member = (pdf["c_rank"] == 1).to_numpy()
        m_idx = np.flatnonzero(is_member)
        if len(m_idx) == 0:
            return pd.DataFrame(
                {
                    "q_id": np.array([], dtype=np.int64),
                    "neighbor_id": np.array([], dtype=np.int64),
                    "sim": np.array([], dtype=np.float64),
                }
            )
        gram = q @ q[m_idx].T  # exact int64: |partials| < 2^46 * dims
        denom = qn[:, None] * qn[m_idx][None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, gram.astype(np.float64) / denom, -2.0)
        m_ids = ids[m_idx]
        # self-pairs drop to -inf and are filtered after the top-k cut
        sim = np.where(m_ids[None, :] == ids[:, None], -np.inf, sim)
        qi, ni, si = [], [], []
        for r in range(len(pdf)):
            order = np.lexsort((m_ids, -sim[r]))[:k]
            keep = np.isfinite(sim[r][order])
            order = order[keep]
            if len(order):
                qi.append(np.full(len(order), ids[r], dtype=np.int64))
                ni.append(m_ids[order])
                si.append(sim[r][order])
        if not qi:
            return pd.DataFrame(
                {
                    "q_id": np.array([], dtype=np.int64),
                    "neighbor_id": np.array([], dtype=np.int64),
                    "sim": np.array([], dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "q_id": np.concatenate(qi),
                "neighbor_id": np.concatenate(ni),
                "sim": np.concatenate(si),
            }
        )

    per_cell = tagged.groupBy("cid").applyInPandas(cell_topk, out_schema)
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        per_cell.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            F.col("rk").cast("int").alias("rk"),
            (
                F.signum(F.col("sim"))
                * (F.floor(F.abs(F.col("sim")) * 1e6 + F.lit(0.5)) / 1e6)
            ).alias("cos_sim"),
        )
    )
