"""Count-Min Sketch over a term column, as a pure DataFrame composition.

The CMS (Cormode & Muthukrishnan 2005) is the standard sub-linear
frequency summary for heavy-hitter mining on unbounded streams: a d×w
counter matrix where each item increments one counter per row, chosen by
d pairwise-independent hashes; a point estimate is the MIN over the d
counters and overestimates truth by at most εN with probability 1-δ
(w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).

Spark-first shape: the matrix IS a (depth, bucket, count) DataFrame —
construction is one posexplode (d rows per occurrence, d is 4) plus one
hash aggregate over d·w ≤ a few thousand groups, so map-side partial
aggregation collapses virtually all traffic: the shuffle carries at most
d·w rows PER INPUT PARTITION regardless of corpus size. That is the
whole point of a sketch at 100 TB — the reduce side never sees the
corpus, only the matrix. Merging two corpora's sketches = unioning the
matrices and summing counts (CMS is a monoid), which is how incremental
/ streaming maintenance works for free.

The hash family is the repo's md5perm universal family
(``functions.dedup``): base = int(md5(term)[:8], 16), member_i =
(A_i·base + B_i) mod P — pure int64 arithmetic DuckDB reproduces
bit-for-bit, so the full sketch and every estimate carry a value-hash
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import MH_PERM_P, mh_perm_constants

CMS_DEPTH = 4
CMS_WIDTH = 512


def _base_hash(term: Column) -> Column:
    """32-bit base hash: int(md5(term)[:8], 16) — cross-engine exact."""
    return F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")


def cms_bucket(term: Column, depth_i: int) -> Column:
    """Row-``depth_i`` bucket for a term."""
    a, b = mh_perm_constants(CMS_DEPTH)
    return (
        (F.lit(a[depth_i]) * _base_hash(term) + F.lit(b[depth_i]))
        % F.lit(MH_PERM_P)
    ) % F.lit(CMS_WIDTH)


def cms_build(
    terms: DataFrame,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the ``CMS_DEPTH`` x ``CMS_WIDTH`` sketch matrix from one
    row per ``term`` OCCURRENCE — or,
    with ``weight_col``, from pre-aggregated (term, count) rows: a cell
    then sums the weights of the terms hashing to it, which is
    bit-identical to counting the raw occurrences (CMS increments are
    additive) but hashes each DISTINCT term once instead of once per
    occurrence. When a term-frequency table already exists upstream,
    the weighted form is the one to use at scale.

    Returns (depth, bucket, cnt) — at most depth·width rows."""
    buckets = F.array(
        *[cms_bucket(F.col("term"), i) for i in range(CMS_DEPTH)]
    )
    cnt = (
        F.sum(weight_col) if weight_col is not None else F.count(F.lit(1))
    )
    cols = [F.posexplode(buckets).alias("depth", "bucket")]
    if weight_col is not None:
        cols.append(F.col(weight_col))
    return (
        terms.select(*cols)
        .groupBy("depth", "bucket")
        .agg(cnt.alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """Point-estimate each candidate ``term``'s frequency: min over the d
    matrix cells the term hashes to. The candidate side is tiny (it's a
    heavy-hitter shortlist) and broadcasts; the join is equi on
    (depth, bucket) against the ≤ d·w-row matrix.

    A probe cell absent from the sparse matrix means zero items hashed
    there, so it must contribute 0 to the min — hence the LEFT join with
    ``coalesce(cnt, 0)``. An inner join would over-estimate (min over
    fewer cells) or silently drop terms whose every cell is empty."""
    buckets = F.array(
        *[cms_bucket(F.col("term"), i) for i in range(CMS_DEPTH)]
    )
    probes = candidates.select(
        "term", F.posexplode(buckets).alias("depth", "bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_estimate"))
    )


def sql_base_hash(term_expr: str) -> str:
    """DuckDB mirror of :func:`_base_hash` (nibble-by-nibble hex→int)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({term_expr}), {i + 1}, 1))"
        f" - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )


def sql_bucket(depth_i: int) -> str:
    """DuckDB mirror of :func:`cms_bucket` over a column named __h."""
    a, b = mh_perm_constants(CMS_DEPTH)
    return f"(({a[depth_i]} * __h + {b[depth_i]}) % {MH_PERM_P}) % {CMS_WIDTH}"
