"""Statistical-analysis and entity-resolution queries: per-group OLS
trend fitting, rolling z-score anomaly detection, k-anonymity risk
audit, and blocked fuzzy name matching.

These are the "analyze the corpus you just built" shapes a training-data
pipeline runs after ingestion: is a source drifting over time (trend)?
are there outlier measurements (anomaly)? does a quasi-identifier
combination re-identify users (k-anonymity)? are two catalog entries the
same real-world entity (fuzzy linkage)?

Engine determinism: every sufficient statistic (n, Σx, Σy, Σxy, Σx², and
the rolling window's Σv, Σv²) accumulates in DECIMAL — exact and
associative, so partitioning cannot change the result — and the final
closed-form arithmetic (slope, z-score) runs in IEEE double on both
engines from identical inputs. Per-row products like x·y are computed in
double BEFORE the decimal cast: both factors are 2-dp quantities small
enough that the product is exactly representable, so the cast sees the
same exact value in Spark and DuckDB.

Reference parity: the reference pipeline fits per-region temporal trends
over its pollutant composites (mean NO2 by month; DataDownloader_V1.py's
month-keyed export loop feeds exactly this analysis downstream) — the
OLS-per-group shape here is that analysis expressed as one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.stable import sql_stable_avg, sql_stable_round, stable_round
from .registry import Query, register

_DEC = "decimal(30,6)"
_EPOCH = "1995-01-01"

# ------------------------------------------------ per-group OLS trend


def _revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS fit of order revenue vs order day: is a market
    growing or shrinking, as one aggregate over the fact table.

    Sufficient statistics (n, Σx, Σy, Σxy, Σx²) are accumulated per
    nation in a single hash-agg — x (day index) and x² are exact
    BIGINTs, y and x·y are 2-dp quantities cast to DECIMAL after an
    exactly-representable double product — then the closed-form
    slope/intercept is evaluated in double on the 5-row-per-nation
    result. One fact-sized shuffle (on c_nationkey after the orders ⋈
    customer equi-join); the nation dimension broadcasts.

    At 100 TB: the customer join is a plain equi-join Catalyst/AQE can
    choose a strategy for; everything after it is group-sized. No
    window, no sort, no second pass over the fact."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")
    ).cast("long")
    y = F.col("o_totalprice")
    stats = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_nationkey",
            x.alias("x"),
            y.cast(_DEC).alias("yd"),
            # x·y: ≤4e3 · <1e6 with 2 fractional digits — exact in
            # double, so the decimal cast is identical cross-engine.
            (x.cast("double") * y).cast(_DEC).alias("xyd"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("yd").alias("sy"),
            F.sum("xyd").alias("sxy"),
        )
    )
    nd = F.col("n_orders").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    denom = nd * sxxd - sxd * sxd
    slope = (nd * sxyd - sxd * syd) / denom
    intercept = (syd - slope * sxd) / nd
    return (
        stats.filter((F.col("n_orders") >= 2) & (denom > 0))
        .withColumn("slope", stable_round(slope, 6))
        .withColumn("intercept", stable_round(intercept, 2))
        .join(F.broadcast(nation), stats.c_nationkey == nation.n_nationkey)
        .select("n_name", "n_orders", "slope", "intercept")
    )


register(
    Query(
        name="revenue_trend_slope",
        spark=_revenue_trend_slope,
        oracle=f"""
            WITH stats AS (
                SELECT c_nationkey,
                       count(*) AS n_orders,
                       sum(x) AS sx,
                       sum(x * x) AS sxx,
                       sum(CAST(y AS DECIMAL(30,6))) AS sy,
                       sum(CAST(CAST(x AS DOUBLE) * y
                                AS DECIMAL(30,6))) AS sxy
                FROM (
                    SELECT c_nationkey,
                           datediff('day', DATE '{_EPOCH}',
                                    CAST(o_orderdate AS DATE)) AS x,
                           o_totalprice AS y
                    FROM orders JOIN customer ON o_custkey = c_custkey
                )
                GROUP BY 1
            )
            SELECT n_name, n_orders,
                   {sql_stable_round('''(CAST(n_orders AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n_orders AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))''', 6)} AS slope,
                   {sql_stable_round('''(CAST(sy AS DOUBLE)
                          - (CAST(n_orders AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / (CAST(n_orders AS DOUBLE)
                               * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * CAST(sx AS DOUBLE))
                         / CAST(n_orders AS DOUBLE)''', 2)} AS intercept
            FROM stats JOIN nation ON c_nationkey = n_nationkey
            WHERE n_orders >= 2
              AND CAST(n_orders AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        """,
        tags=("stats", "regression"),
        doc="Per-nation OLS revenue trend from decimal sufficient stats.",
    )
)


# ------------------------------------- rolling z-score anomaly flags

_ZWIN = 20  # trailing observations per (event_type) stream
_ZTHRESH = 3.0


def _rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly flags: each event's value scored against
    the mean/std of the previous ``_ZWIN`` events of the same type; rows
    beyond ``_ZTHRESH`` sigma are emitted.

    The rolling Σv and Σv² accumulate in DECIMAL over a ROWS frame whose
    contents are totally ordered by (ts, event_id) — so the frame, the
    sums, and hence the flags are engine- and partitioning-independent.
    Variance must be strictly positive before the sqrt: a ≤0 guard (not
    a NaN check) because DuckDB orders NaN greater than everything while
    Java orders it via Double.compare — the guard keeps NaN out of both.

    One sort per event_type partition; no joins. At 100 TB the state is
    one window frame per stream — the same shape Structured Streaming's
    sliding aggregate would maintain incrementally."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ZWIN, -1)
    )
    v = F.col("value")
    scored = e.select(
        "event_id",
        "event_type",
        "value",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum(v.cast(_DEC)).over(w).alias("s1"),
        # v² has 4 fractional digits and v < 1e4 — exact in double,
        # identical decimal cast cross-engine.
        F.sum((v * v).cast(_DEC)).over(w).alias("s2"),
    )
    cntd = F.col("cnt").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / cntd
    var = (s2d - s1d * s1d / cntd) / cntd
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        scored.filter(F.col("cnt") == _ZWIN)
        .withColumn("var", var)
        .filter(F.col("var") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > _ZTHRESH)
        .select(
            "event_id",
            "event_type",
            "value",
            stable_round(F.col("z"), 6).alias("zscore"),
        )
    )


register(
    Query(
        name="rolling_zscore_anomaly",
        spark=_rolling_zscore_anomaly,
        oracle=f"""
            WITH scored AS (
                SELECT event_id, event_type, value,
                       count(*) OVER w AS cnt,
                       sum(CAST(value AS DECIMAL(30,6))) OVER w AS s1,
                       sum(CAST(value * value AS DECIMAL(30,6)))
                           OVER w AS s2
                FROM events
                WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS BETWEEN {_ZWIN} PRECEDING
                                      AND 1 PRECEDING)
            ),
            vars AS (
                SELECT event_id, event_type, value,
                       (CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(cnt AS DOUBLE))
                       / CAST(cnt AS DOUBLE) AS var,
                       CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean
                FROM scored WHERE cnt = {_ZWIN}
            )
            SELECT event_id, event_type, value,
                   {sql_stable_round('(value - mean) / sqrt(var)', 6)}
                       AS zscore
            FROM vars
            WHERE var > 0 AND abs((value - mean) / sqrt(var)) > {_ZTHRESH!r}
        """,
        tags=("stats", "anomaly", "window"),
        doc="Trailing-window z-score outliers per event stream.",
    )
)


# ------------------------------------------------- k-anonymity audit

_K_MIN = 5


def _k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy risk audit: quasi-identifier combinations (nation ×
    market segment × account-balance band) whose group size is below
    ``_K_MIN`` — each such group re-identifies its members to within k
    candidates, the standard k-anonymity criterion (Sweeney 2002,
    public literature).

    One hash-aggregate on the QI tuple, then a group-sized filter. The
    1000-unit balance band is the generalization step: auditing raw
    balances would make every row its own group."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            band.alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") < _K_MIN)
    )


register(
    Query(
        name="k_anonymity_audit",
        spark=_k_anonymity_audit,
        oracle=f"""
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   count(*) AS k
            FROM customer
            GROUP BY 1, 2, 3
            HAVING count(*) < {_K_MIN}
        """,
        tags=("stats", "privacy"),
        doc="Quasi-identifier groups smaller than k (re-identification risk).",
    )
)


# ------------------------------------- blocked fuzzy name resolution

_FUZZY_MAX_DIST = 3


def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: distinct part names within an
    edit distance of ``_FUZZY_MAX_DIST``, blocked on the first name
    token so the comparison space is per-block quadratic in DISTINCT
    names, never in rows.

    The two-stage shape is the standard record-linkage design: (1) a
    hash-agg collapses the fact table to its distinct-name profile
    (name → row count, exemplar key); (2) a blocked self-join compares
    only names sharing a blocking key. Levenshtein runs JVM-side
    (built-in, codegen) on the tiny distinct table — at 100 TB the
    distinct-name table is catalog-sized (≪ fact), so stage 2 never
    sees fact-scale data and the block bound caps the worst block at
    |block|² comparisons."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("exemplar"),
        )
        .withColumn("blk", F.split(F.col("p_name"), " ").getItem(0))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= _FUZZY_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "edit_dist",
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
    )


register(
    Query(
        name="fuzzy_name_pairs",
        spark=_fuzzy_name_pairs,
        oracle=f"""
            WITH names AS (
                SELECT p_name, count(*) AS n_parts,
                       min(p_partkey) AS exemplar,
                       string_split(p_name, ' ')[1] AS blk
                FROM part GROUP BY 1
            )
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   levenshtein(a.p_name, b.p_name) AS edit_dist,
                   a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
            FROM names a JOIN names b
              ON a.blk = b.blk AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
        """,
        tags=("stats", "entity-resolution", "fuzzy"),
        doc="Blocked Levenshtein candidate pairs over distinct part names.",
    )
)


# ---------------------------------------- market-basket pair mining

_MIN_SUPPORT = 3


def _basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase pairs with support / confidence / lift —
    the A-priori first level (pairs), which in practice is where basket
    mining earns its keep (higher orders are pruned by pair support).

    Pair candidates come from ONE groupBy per order (sorted distinct
    part array → i<j combinations via a narrow transform/slice explode)
    — the fact table is never self-joined, and per-order dedup rides
    the same shuffle (the triangle_count layout, graph_queries.py).
    Item supports are a second group-sized aggregate; the scalar order
    count broadcasts. Lift arithmetic is all exact BIGINT counts cast
    to double at the end, so cross-engine determinism is free.

    At 100 TB: per-order combination fan-out is basket-size-bounded
    (k² per basket, k ~ tens), and everything after the explode is
    key-grouped counting — the word-count envelope again."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_support = (
        baskets.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(ps, (x, i) ->
                        transform(slice(ps, i + 2, size(ps) - i - 1),
                                  y -> struct(x AS a, y AS b))))
                    """
                )
            ).alias("e")
        )
        .groupBy("e.a", "e.b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
        .filter(F.col("support_ab") >= _MIN_SUPPORT)
    )
    item_support = li.select("l_orderkey", "l_partkey").distinct().groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("support"))
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sa = F.col("support_a").cast("double")
    sb = F.col("support_b").cast("double")
    sab = F.col("support_ab").cast("double")
    nd = F.col("n_orders").cast("double")
    return (
        pair_support.join(
            F.broadcast(
                item_support.select(
                    F.col("l_partkey").alias("a"),
                    F.col("support").alias("support_a"),
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                item_support.select(
                    F.col("l_partkey").alias("b"),
                    F.col("support").alias("support_b"),
                )
            ),
            "b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "support_ab",
            "support_a",
            "support_b",
            stable_round(sab / sa, 6).alias("confidence"),
            stable_round(sab * nd / (sa * sb), 6).alias("lift"),
        )
    )


register(
    Query(
        name="basket_lift_pairs",
        spark=_basket_lift_pairs,
        oracle=f"""
            WITH basket AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            pair_support AS (
                SELECT x.l_partkey AS a, y.l_partkey AS b,
                       count(*) AS support_ab
                FROM basket x JOIN basket y
                  ON x.l_orderkey = y.l_orderkey
                 AND x.l_partkey < y.l_partkey
                GROUP BY 1, 2
                HAVING count(*) >= {_MIN_SUPPORT}
            ),
            item_support AS (
                SELECT l_partkey, count(*) AS support FROM basket
                GROUP BY 1
            ),
            n AS (
                SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket
            )
            SELECT p.a, p.b, p.support_ab,
                   ia.support AS support_a, ib.support AS support_b,
                   {sql_stable_round('CAST(p.support_ab AS DOUBLE)'
                                     ' / CAST(ia.support AS DOUBLE)', 6)}
                       AS confidence,
                   {sql_stable_round('''CAST(p.support_ab AS DOUBLE)
                         * CAST(n.n_orders AS DOUBLE)
                         / (CAST(ia.support AS DOUBLE)
                            * CAST(ib.support AS DOUBLE))''', 6)} AS lift
            FROM pair_support p
            JOIN item_support ia ON p.a = ia.l_partkey
            JOIN item_support ib ON p.b = ib.l_partkey
            CROSS JOIN n
        """,
        tags=("stats", "association", "basket"),
        doc="frequent part pairs with support/confidence/lift; combos "
        "from per-basket narrow explode, never a fact self-join",
    )
)


# ------------------------------------------------ MAD robust outliers


_MAD_K = 3.5
_MAD_C = 1.4826  # consistency constant: MAD ≈ σ for normal data


def _mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event stream via Median Absolute
    Deviation (Hampel identifier): flag rows where
    |value − median| > K · 1.4826 · MAD. Unlike the z-score variant
    (``rolling_zscore_anomaly``), median/MAD are unaffected by the
    outliers themselves — the standard robust screen for heavy-tailed
    telemetry.

    Shape: two group-sized exact-percentile aggregates (5 groups), the
    resulting 5-row (median, mad) table BROADCAST back onto the fact —
    the fact itself is scanned, never shuffled on a join key. Exact
    percentile sorts within each group; at 100 TB the same query runs
    with the GK-sketch percentiles (``approx_percentiles``) as the
    scale path, this exact form being the gate."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
            .alias("mad"),
            F.min("med").alias("med"),
        )
    )
    robust_z = (F.col("value") - F.col("med")) / (
        F.lit(_MAD_C) * F.col("mad")
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > F.lit(0.0))
            & (
                F.abs(F.col("value") - F.col("med"))
                > F.lit(_MAD_K * _MAD_C) * F.col("mad")
            )
        )
        .select(
            "event_id",
            "event_type",
            "value",
            stable_round(robust_z, 6).alias("robust_z"),
        )
    )


register(
    Query(
        name="mad_outliers",
        spark=_mad_outliers,
        oracle=f"""
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY 1
            ),
            mad AS (
                SELECT e.event_type,
                       quantile_cont(abs(value - med), 0.5) AS mad,
                       min(med) AS med
                FROM events e JOIN med USING (event_type)
                GROUP BY 1
            )
            SELECT event_id, e.event_type, value,
                   {sql_stable_round(
                       f'(value - med) / ({_MAD_C!r} * mad)', 6)}
                       AS robust_z
            FROM events e JOIN mad USING (event_type)
            WHERE mad > 0 AND abs(value - med) > {_MAD_K * _MAD_C!r} * mad
        """,
        tags=("stats", "outliers", "robust"),
        doc="Hampel MAD outlier screen: two broadcast-sized percentile "
        "aggs, fact scanned once and never key-shuffled",
    )
)


# ------------------------------------------- Gini revenue concentration


def _gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (inequality) report: the Gini coefficient
    of per-customer order revenue within each nation, from the sorted-
    rank identity G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) with xᵢ
    ascending. The curation analog: how skewed is a corpus across
    contributors/sources — the number a mixture-balancing pass keys on.

    Shape: fact → per-customer hash-agg (one shuffle), one window
    rank per nation partition (second, customer-sized shuffle), then a
    group-sized fold. All accumulation rides DECIMAL (i·xᵢ is an
    integer-scaled product, exact in both engines); only the final
    ratio is a double. Tie order inside equal revenues cannot change
    Σ i·xᵢ, so the custkey tie-break is for determinism of the window,
    not the result."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev")
    )
    j = per_cust.join(
        customer.select("c_custkey", "c_nationkey"),
        per_cust["o_custkey"] == F.col("c_custkey"),
    ).join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    w = Window.partitionBy("n_name").orderBy("rev", "o_custkey")
    ranked = j.select(
        "n_name", "rev", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("s"),
        F.sum(F.col("rev") * F.col("i")).alias("si"),
    )
    gini = (
        2.0 * F.col("si").cast("double")
        - (F.col("n_customers") + 1).cast("double")
        * F.col("s").cast("double")
    ) / (F.col("n_customers").cast("double") * F.col("s").cast("double"))
    return agg.select(
        "n_name",
        "n_customers",
        stable_round(gini, 6).alias("gini"),
    )


register(
    Query(
        name="gini_concentration",
        spark=_gini_concentration,
        oracle=f"""
            WITH per_cust AS (
                SELECT o_custkey,
                       sum(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
                FROM orders GROUP BY 1
            ),
            ranked AS (
                SELECT n_name, rev,
                       row_number() OVER (
                           PARTITION BY n_name
                           ORDER BY rev, o_custkey) AS i
                FROM per_cust
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
            ),
            agg AS (
                SELECT n_name, count(*) AS n_customers,
                       sum(rev) AS s, sum(rev * i) AS si
                FROM ranked GROUP BY 1
            )
            SELECT n_name, n_customers,
                   {sql_stable_round('''(2.0 * CAST(si AS DOUBLE)
                          - CAST(n_customers + 1 AS DOUBLE)
                            * CAST(s AS DOUBLE))
                         / (CAST(n_customers AS DOUBLE)
                            * CAST(s AS DOUBLE))''', 6)} AS gini
            FROM agg
        """,
        tags=("stats", "inequality", "window"),
        doc="per-nation Gini of customer revenue via the sorted-rank "
        "identity; decimal-exact accumulation, one window pass",
    )
)


# ------------------------- multivariate OLS via one sufficient-stat pass


def _sql_ols_final() -> dict[str, str]:
    """Shared final-math SQL snippets for the normal-equation solve.

    The SAME text is executed by Spark (``selectExpr``) and DuckDB
    (oracle CTE), so both engines build the identical IEEE expression
    tree over identical decimal-exact inputs — the staged-double
    determinism contract used across this module."""
    # det of [[n,sx1,sx2],[sx1,s11,s12],[sx2,s12,s22]] by first-row
    # cofactors; the three det_k replace column k with (sy,s1y,s2y).
    det = (
        "(nn * (s11 * s22 - s12 * s12)"
        " - sx1 * (sx1 * s22 - s12 * sx2)"
        " + sx2 * (sx1 * s12 - s11 * sx2))"
    )
    det0 = (
        "(sy * (s11 * s22 - s12 * s12)"
        " - sx1 * (s1y * s22 - s12 * s2y)"
        " + sx2 * (s1y * s12 - s11 * s2y))"
    )
    det1 = (
        "(nn * (s1y * s22 - s12 * s2y)"
        " - sy * (sx1 * s22 - s12 * sx2)"
        " + sx2 * (sx1 * s2y - s1y * sx2))"
    )
    det2 = (
        "(nn * (s11 * s2y - s1y * s12)"
        " - sx1 * (sx1 * s2y - s1y * sx2)"
        " + sy * (sx1 * s12 - s11 * sx2))"
    )
    # nullif: a singular design (collinear or constant regressors —
    # e.g. every row the same quantity AND discount) has det = 0; the
    # fit is undefined, so both engines must return NULL coefficients
    # rather than Spark throwing ANSI DIVIDE_BY_ZERO while DuckDB
    # quietly NULLs (found by the lineitem differential fuzz).
    return {
        "b0": f"({det0}) / nullif(({det}), 0.0)",
        "b1": f"({det1}) / nullif(({det}), 0.0)",
        "b2": f"({det2}) / nullif(({det}), 0.0)",
    }


_OLS_UNSCALE = [
    # exact decimal sums -> doubles in original units (q unscaled,
    # d and y carry the x100 cent/percent scaling).
    "cast(n as double) AS nn",
    "cast(sq as double) AS sx1",
    "cast(sd as double) / 100.0 AS sx2",
    "cast(sqq as double) AS s11",
    "cast(sqd as double) / 100.0 AS s12",
    "cast(sdd as double) / 10000.0 AS s22",
    "cast(sy as double) / 100.0 AS sy",
    "cast(sqy as double) / 100.0 AS s1y",
    "cast(sdy as double) / 10000.0 AS s2y",
    "cast(syy as double) / 10000.0 AS syy",
]

# nullif: constant y (zero total variance) leaves R² undefined — NULL
# in both engines, same rationale as the det guard above.
_OLS_R2 = (
    "1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y))"
    " / nullif((syy - sy * sy / nn), 0.0)"
)


def _linear_model_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit ``l_extendedprice ~ 1 + l_quantity + l_discount`` by ordinary
    least squares in ONE pass over the fact table: accumulate the 3x3
    normal-equation sufficient statistics (X'X, X'y, y'y) as exact
    integer-decimal sums, then solve the tiny system closed-form
    (Cramer's rule) on the single aggregated row.

    This is the 100 TB way to train a linear model: the only
    corpus-sized stage is a map-side-combinable hash aggregate that
    collapses every partition to ten numbers — no iteration, no
    gradient passes, no driver-side data movement. Adding features
    grows the statistic count O(p^2), not the pass count.

    Cross-engine exactness: quantity is integer-valued and discount /
    price carry exactly two decimals, so ``round(x * 100)`` recovers
    exact BIGINTs in both engines; every product stays within int64
    per row and accumulates in DECIMAL(38,0) (associative, partition-
    order-proof). The closed-form solve then runs the IDENTICAL SQL
    text (``_sql_ols_final``) on both sides.

    Reference parity: the reference's trend analysis over pollutant
    composites (DataDownloader_V1.py:94-153 month-keyed exports feeding
    regression downstream) generalized from the single-regressor
    ``revenue_trend_slope`` to a true multivariate fit."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    rows = li.select(
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    stats = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q").cast(dec)).alias("sq"),
        F.sum(F.col("d").cast(dec)).alias("sd"),
        F.sum((F.col("q") * F.col("q")).cast(dec)).alias("sqq"),
        F.sum((F.col("q") * F.col("d")).cast(dec)).alias("sqd"),
        F.sum((F.col("d") * F.col("d")).cast(dec)).alias("sdd"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("q") * F.col("y")).cast(dec)).alias("sqy"),
        F.sum((F.col("d") * F.col("y")).cast(dec)).alias("sdy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    fin = _sql_ols_final()
    u = stats.selectExpr("n", *_OLS_UNSCALE)
    b = u.selectExpr(
        "n", "nn", "sy", "s1y", "s2y", "syy",
        f"{fin['b0']} AS b0",
        f"{fin['b1']} AS b1",
        f"{fin['b2']} AS b2",
    )
    r = b.selectExpr("n", "b0", "b1", "b2", f"{_OLS_R2} AS r2")
    return r.select(
        F.col("n").cast("long").alias("n_rows"),
        _stats_signed_round(F.col("b0")).alias("intercept"),
        _stats_signed_round(F.col("b1")).alias("coef_quantity"),
        _stats_signed_round(F.col("b2")).alias("coef_discount"),
        _stats_signed_round(F.col("r2")).alias("r2"),
    )


def _stats_signed_round(c):
    """sign(x)*floor(|x|*10^6 + 0.5)/10^6 — the signed twin of
    ``functions.stable.stable_round`` (coefficients can be negative)."""
    f = 1e6
    return F.signum(c) * (F.floor(F.abs(c) * f + F.lit(0.5)) / f)


def _sql_stats_signed_round(expr: str) -> str:
    return f"sign({expr}) * (floor(abs({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def _ols_oracle() -> str:
    fin = _sql_ols_final()
    unscale = ",\n                       ".join(_OLS_UNSCALE)
    return f"""
        WITH r AS (
            SELECT CAST(round(l_quantity) AS BIGINT) AS q,
                   CAST(round(l_discount * 100) AS BIGINT) AS d,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem
        ),
        stats AS (
            SELECT count(*) AS n,
                   sum(CAST(q AS DECIMAL(38,0))) AS sq,
                   sum(CAST(d AS DECIMAL(38,0))) AS sd,
                   sum(CAST(q * q AS DECIMAL(38,0))) AS sqq,
                   sum(CAST(q * d AS DECIMAL(38,0))) AS sqd,
                   sum(CAST(d * d AS DECIMAL(38,0))) AS sdd,
                   sum(CAST(y AS DECIMAL(38,0))) AS sy,
                   sum(CAST(q * y AS DECIMAL(38,0))) AS sqy,
                   sum(CAST(d * y AS DECIMAL(38,0))) AS sdy,
                   sum(CAST(y * y AS DECIMAL(38,0))) AS syy
            FROM r
        ),
        u AS (
            SELECT n, {unscale}
            FROM stats
        ),
        b AS (
            SELECT n, nn, sy, s1y, s2y, syy,
                   {fin['b0']} AS b0,
                   {fin['b1']} AS b1,
                   {fin['b2']} AS b2
            FROM u
        ),
        f AS (
            SELECT n, b0, b1, b2, {_OLS_R2} AS r2 FROM b
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_sql_stats_signed_round('b0')} AS intercept,
               {_sql_stats_signed_round('b1')} AS coef_quantity,
               {_sql_stats_signed_round('b2')} AS coef_discount,
               {_sql_stats_signed_round('r2')} AS r2
        FROM f
    """


register(
    Query(
        name="linear_model_normal_eq",
        spark=_linear_model_normal_eq,
        oracle=_ols_oracle(),
        tags=("stats", "ml", "aggregate"),
        doc="multivariate OLS (price ~ quantity + discount) via one "
        "map-side-combinable sufficient-statistic pass + Cramer solve; "
        "exact integer-decimal accumulation, shared final-math SQL",
    )
)


# --------------------------------- differentially private release

_DP_EPS = 1.0  # ε for one release of the lang×source histogram
_DP_TAU = 10.0  # post-noise suppression threshold (small-cell guard)
_DP_DENOM = float((1 << 60) + 1)  # u = (h+1)/DENOM ∈ (0,1], never 0


def _sql_h60(mh: str) -> str:
    """60-bit integer from the first 15 hex chars of an md5 expression
    (DuckDB mirror of Spark's ``conv(substring(md5, 1, 15), 16, 10)``;
    the A-ES uniform-from-md5 idiom from ``weighted_sample_wor``)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({mh}, {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15)
    )


# 60-bit md5 integer of the cell key, as portable SQL.
_SQL_CELL_H = _sql_h60("md5(concat_ws('|', lang, source))")


def _dp_noisy_counts(
    spark: SparkSession, sf_dir: str, salt: str = ""
) -> DataFrame:
    """Laplace-shaped noisy release of the lang×source document
    histogram: Laplace(1/ε)-distributed pseudo-noise on each cell
    count, then small cells suppressed below a post-noise threshold —
    the *plan shape* of a DP histogram release (one corpus aggregate,
    noise math on the tiny cell table).

    NOT a privacy mechanism as written. The noise is a deterministic
    function of the PUBLIC cell key md5(lang|source): anyone who knows
    the pipeline can recompute the noise and subtract it to recover
    exact counts (and invert the suppression), and deterministic
    per-cell noise breaks the Laplace-mechanism proof regardless —
    adjacent datasets get identical noise. This query exists for
    engine-parity benchmarking of the release *plan*; a real ε-DP
    release needs fresh (or secretly-keyed, budget-accounted)
    randomness, e.g. seeding from a secret salt kept out of the
    released artifact, with ε accounting across re-runs.

    The ``salt`` parameter IS that secretly-keyed path: a non-empty
    salt is folded into the md5 seed, so the noise stays idempotent
    across backfills (same salt → same release) but is no longer
    recomputable by anyone without the salt. The registered gate entry
    uses the unsalted form so the oracle can mirror the hash; real
    deployments pass a salt from a secret store and do ε accounting
    per distinct release.

    The determinism is what makes the oracle gate possible: the cell's
    md5 yields a 60-bit uniform u ∈ (0,1] (the Efraimidis–Spirakis
    idiom from ``weighted_sample_wor``), noise =
    −(1/ε)·sign(u−½)·ln(1−2|u−½|) via inverse-CDF, and both engines
    evaluate the identical IEEE expression so the release
    hash-compares exactly and is idempotent across backfills.

    Scale shape: ONE corpus-sized hash aggregate (map-side combinable)
    folds 100 TB to the |langs|×|sources| cell table; all noise math
    runs on those few rows. The ln(1−2|u−½|) argument is floored at
    1e-18 — the u that would hit ln(0) has probability 2^-60 per cell
    and the guard is shared by both engines."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    key = (
        F.concat_ws("|", F.lit(salt), "lang", "source")
        if salt
        else F.concat_ws("|", "lang", "source")
    )
    h = F.conv(
        F.substring(F.md5(key), 1, 15),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(_DP_DENOM)
    cu = u - F.lit(0.5)
    mag = F.greatest(
        F.lit(1.0) - F.lit(2.0) * F.abs(cu), F.lit(1e-18)
    )
    noise = (
        (F.lit(0.0) - F.lit(1.0) / F.lit(_DP_EPS))
        * F.signum(cu)
        * F.log(mag)
    )
    noisy = F.col("c").cast("double") + noise
    return (
        cells.select("lang", "source", noisy.alias("noisy"))
        .filter(F.col("noisy") >= F.lit(_DP_TAU))
        .select(
            "lang",
            "source",
            stable_round(F.col("noisy"), 6).alias("noisy_count"),
            F.lit(_DP_EPS).alias("epsilon"),
        )
    )


register(
    Query(
        name="dp_noisy_counts",
        spark=_dp_noisy_counts,
        oracle=f"""
            WITH cells AS (
                SELECT lang, source, count(*) AS c
                FROM documents GROUP BY 1, 2
            ),
            seeded AS (
                SELECT lang, source, c,
                       (CAST(({_SQL_CELL_H}) + 1 AS DOUBLE)
                        / {_DP_DENOM!r}) - 0.5 AS cu
                FROM cells
            ),
            noised AS (
                SELECT lang, source,
                       CAST(c AS DOUBLE)
                       + (0.0 - 1.0 / {_DP_EPS!r}) * sign(cu)
                         * ln(greatest(1.0 - 2.0 * abs(cu), 1e-18))
                           AS noisy
                FROM seeded
            )
            SELECT lang, source,
                   floor(noisy * 1000000.0 + 0.5) / 1000000.0
                       AS noisy_count,
                   CAST({_DP_EPS!r} AS DOUBLE) AS epsilon
            FROM noised
            WHERE noisy >= {_DP_TAU!r}
        """,
        tags=("stats", "noisy-release"),
        doc="Laplace-SHAPED deterministic pseudo-noise release of the "
        "lang×source histogram (engine-parity benchmark of the DP "
        "release plan shape — NOT a privacy mechanism: noise is "
        "recomputable from the public cell key); post-noise "
        "suppression; one map-side-combinable corpus fold",
    )
)


# --------------------------------------- Poisson bootstrap CI

# Poisson(1) cumulative distribution, P(X <= k) for k = 0..9; draws
# with u beyond the last entry clamp to 10. The literals are embedded
# identically in the Spark expression and the DuckDB mirror, so the
# inverse-CDF CASE ladder is the same IEEE comparison on both sides.
_POIS1_CUM = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
    0.9999998885745216,
]
_BOOT_B = 32  # bootstrap replicates
# u = (h+1)/_DP_DENOM ∈ (0,1] — the same 60-bit idiom as the DP release


def _sql_pois1(u: str) -> str:
    ladder = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CUM)
    )
    return f"(CASE {ladder} ELSE {len(_POIS1_CUM)} END)"


def _pois1(u) -> F.Column:
    w = F.lit(len(_POIS1_CUM))
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CUM[k]), F.lit(k)).otherwise(w)
    return w


def _bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean revenue per
    return flag (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams" — the resampling scheme that works on data too large
    to index: each row independently contributes a Poisson(1) weight
    to each of B replicates, so no sampling pass, no global indexing,
    and the whole estimator is ONE map-side-combinable aggregate over
    a B-fold narrow row inflation).

    Randomness is a deterministic md5 of (replicate, row key) — the
    ``dp_noisy_counts`` 60-bit-uniform idiom — so replicate weights
    are identical in any engine / partitioning and the DuckDB mirror
    hash-matches exactly. Replicate means use the exact-decimal
    numerator over an integer weight sum; the CI bounds are order
    statistics of the B replicate means (index = floor(0.025·n),
    symmetric), which are exact doubles — no quantile interpolation
    to diverge on.

    Scale shape: explode ×B=32 of a 3-column projection, then a
    hash aggregate on (flag, b) — partial aggregation collapses the
    inflation map-side; the per-group state downstream is B rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("rev"),
    )
    # Spread the narrow base BEFORE the ×B inflation: the scan yields
    # as few partitions as the file layout (3 at sf0.1 locally), and
    # every input row fans out ×32 md5 computations — without this the
    # digest work runs on 3 of 32 cores. One cheap shuffle of the
    # 4-column projection; at cluster scale the same line keeps the
    # inflation balanced across executors regardless of file count.
    li = li.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    )
    rep = li.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("b"),
    )
    key = F.concat_ws(
        "|",
        F.lit("boot"),
        F.col("b"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(_DP_DENOM)
    # Materialize u in its OWN projection before the CASE ladder.
    # Spark's subexpression elimination deliberately does not hoist
    # expressions that appear only inside conditional branches (they
    # must stay lazily evaluated), so an inlined u would re-run
    # md5+conv in every WHEN arm — ~10 digests per row instead of one
    # (measured 49 s → ~5 s at sf0.1). CollapseProject keeps the
    # split: it never merges a projection whose alias is referenced
    # many times by a non-cheap expression.
    seeded = rep.select("l_returnflag", "b", "rev", u.alias("u"))
    per_rep = (
        seeded.select(
            "l_returnflag", "b", "rev", _pois1(F.col("u")).alias("w")
        )
        .groupBy("l_returnflag", "b")
        .agg(
            F.sum(
                F.col("rev").cast("decimal(30,6)") * F.col("w")
            ).alias("num"),
            F.sum("w").cast("long").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select(
            "l_returnflag",
            stable_round(
                F.col("num").cast("double") / F.col("den"), 6
            ).alias("m"),
        )
    )
    from ..functions.stable import stable_avg

    idx = (F.floor(F.lit(0.025) * F.col("n_boot")) + 1).cast("int")
    return (
        per_rep.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_boot"),
            stable_avg("m", scale=6, dec="decimal(30,6)").alias(
                "boot_mean"
            ),
            F.sort_array(F.collect_list("m")).alias("ms"),
        )
        .select(
            "l_returnflag",
            "n_boot",
            "boot_mean",
            F.element_at("ms", idx).alias("ci_lo"),
            F.element_at(
                "ms", (F.col("n_boot") - idx + 1).cast("int")
            ).alias("ci_hi"),
        )
    )


register(
    Query(
        name="bootstrap_ci",
        spark=_bootstrap_ci,
        oracle=f"""
            WITH rep AS (
                SELECT l_returnflag,
                       l_extendedprice * (1.0 - l_discount) AS rev,
                       md5('boot|' || CAST(b AS VARCHAR) || '|'
                           || CAST(l_orderkey AS VARCHAR) || '|'
                           || CAST(l_linenumber AS VARCHAR)) AS mh,
                       b
                FROM lineitem,
                     (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                          AS b)
            ),
            seeded AS (
                SELECT l_returnflag, b, rev,
                       CAST(({_sql_h60('mh')}) + 1 AS DOUBLE)
                           / {_DP_DENOM!r} AS u
                FROM rep
            ),
            weighted AS (
                SELECT l_returnflag, b, rev, {_sql_pois1('u')} AS w
                FROM seeded
            ),
            per_rep AS (
                SELECT l_returnflag,
                       floor(CAST(sum(CAST(rev AS DECIMAL(30,6)) * w)
                                  AS DOUBLE)
                             / CAST(sum(w) AS BIGINT)
                             * 1000000.0 + 0.5) / 1000000.0 AS m
                FROM weighted
                GROUP BY l_returnflag, b
                HAVING sum(w) > 0
            ),
            packed AS (
                SELECT l_returnflag,
                       count(*) AS n_boot,
                       cast(floor(cast(sum(cast(m as decimal(30,6)))
                                       as double)
                                  / count(m) * 1000000.0 + 0.5)
                            / 1000000.0 as double) AS boot_mean,
                       list_sort(list(m)) AS ms
                FROM per_rep GROUP BY l_returnflag
            )
            SELECT l_returnflag,
                   n_boot,
                   boot_mean,
                   ms[CAST(floor(0.025 * n_boot) + 1 AS INTEGER)]
                       AS ci_lo,
                   ms[CAST(n_boot - floor(0.025 * n_boot)
                           AS INTEGER)] AS ci_hi
            FROM packed
        """,
        tags=("stats", "sampling"),
        doc="Poisson-bootstrap CI for mean revenue per return flag "
        "(deterministic md5-seeded Poisson(1) weights, B=32 "
        "replicates, order-statistic bounds) — the one-pass "
        "resampling shape for massive data",
    )
)


# --------------------------------------------- CUSUM drift detection

_CUSUM_K = 2.0  # slack: deviations below target+K don't accumulate
_CUSUM_H = 8.0  # alarm threshold on the cumulative sum


def _cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM drift detector over the per-type daily-mean series:
    ``S_t = max(0, S_{t-1} + (x_t - (target + K)))``, alarm when
    ``S_t > H`` — the classic change-point screen for a metric drifting
    above its baseline (upper one-sided form).

    CUSUM is inherently SEQUENTIAL (each step needs the previous), so
    this is the one recursion class Catalyst windows can't express.
    The scale-correct shape: the corpus folds to a per-(type, day)
    aggregate first (map-side combinable), and only the tiny daily
    series enters an ``applyInPandas`` per event_type — Arrow-batched,
    one group per key, state = one float. 100 TB of events becomes
    |types| × |days| rows before any Python runs.

    Engine parity: daily means and the per-type target are 6-dp
    floor-quantized (``stable_avg``); the recursion is written with
    IDENTICAL association ``s + (x - (target + K))`` in the Python loop
    and the DuckDB recursive CTE, so every S_t is the same IEEE double
    on both sides and the gate hash-matches the alarms exactly."""
    import pandas as pd

    from ..functions.stable import stable_avg

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(stable_avg("value", scale=6, dec="decimal(38,12)").alias("x"))
        .filter(F.col("x").isNotNull())
        # Two consumers (the per-type target and the CUSUM join) lazily
        # re-ran the fact scan + daily aggregate (2 events scans in the
        # r10 before-plan). One pass into the |types|×|days| table
        # (guide §2.4).
        .localCheckpoint(eager=True)
    )
    target = daily.groupBy("event_type").agg(
        stable_avg("x", scale=6, dec="decimal(30,6)").alias("target")
    )
    joined = daily.join(F.broadcast(target), "event_type")

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("d")
        tgt = float(pdf["target"].iloc[0])
        s, smax, n_alarms, first_alarm = 0.0, 0.0, 0, None
        for d, x in zip(pdf["d"], pdf["x"]):
            s = max(0.0, s + (float(x) - (tgt + _CUSUM_K)))
            smax = max(smax, s)
            if s > _CUSUM_H:
                n_alarms += 1
                if first_alarm is None:
                    first_alarm = str(pd.Timestamp(d).date())
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(pdf)],
                "n_alarms": [n_alarms],
                "max_cusum": [
                    math.floor(smax * 1000000.0 + 0.5) / 1000000.0
                ],
                "first_alarm_day": [first_alarm],
            }
        )

    return joined.groupBy("event_type").applyInPandas(
        cusum,
        "event_type string, n_days long, n_alarms long, "
        "max_cusum double, first_alarm_day string",
    )


register(
    Query(
        name="cusum_drift",
        spark=_cusum_drift,
        oracle=f"""
            WITH RECURSIVE daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                       {sql_stable_avg('value', 6, 'decimal(38,12)')} AS x
                FROM events
                GROUP BY 1, 2
                HAVING count(value) > 0
            ),
            tgt AS (
                SELECT event_type,
                       {sql_stable_avg('x', 6, 'decimal(30,6)')} AS target
                FROM daily GROUP BY 1
            ),
            seq AS (
                SELECT daily.event_type, d, x, target,
                       row_number() OVER (
                           PARTITION BY daily.event_type ORDER BY d) AS rn
                FROM daily JOIN tgt USING (event_type)
            ),
            c AS (
                SELECT event_type, rn, d,
                       greatest(0.0, 0.0 + (x - (target + {_CUSUM_K!r})))
                           AS s
                FROM seq WHERE rn = 1
                UNION ALL
                SELECT s2.event_type, s2.rn, s2.d,
                       greatest(0.0, c.s + (s2.x - (s2.target
                                                    + {_CUSUM_K!r})))
                FROM c JOIN seq s2
                  ON s2.event_type = c.event_type AND s2.rn = c.rn + 1
            )
            SELECT event_type,
                   count(*) AS n_days,
                   CAST(coalesce(sum(CASE WHEN s > {_CUSUM_H!r}
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_alarms,
                   floor(max(s) * 1000000.0 + 0.5) / 1000000.0
                       AS max_cusum,
                   CAST(min(CASE WHEN s > {_CUSUM_H!r} THEN d END)
                        AS VARCHAR) AS first_alarm_day
            FROM c
            GROUP BY 1
        """,
        tags=("stats", "anomaly"),
        doc="Page's one-sided CUSUM over per-type daily means "
        "(sequential recursion via per-group applyInPandas; DuckDB "
        "recursive-CTE mirror, identical IEEE association both sides)",
    )
)


# ------------------------------------------ Holt forecast (backtested)

_HOLT_ALPHA = 0.5   # level gain  (exact binary fraction)
_HOLT_BETA = 0.25   # trend gain  (exact binary fraction)


def _holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per event type over the daily
    mean series, with a walk-forward backtest: every step's one-ahead
    forecast error |x_t − (l_{t−1} + b_{t−1})| feeds a MAE, and the
    final (level, trend) yields the next-day forecast — the capacity /
    volume-planning primitive over a metric stream.

    Same scale + parity shape as ``cusum_drift``: corpus → per-(type,
    day) aggregate map-side, the tiny series through one per-group
    ``applyInPandas``; the recursion (level, trend, error sum) is
    carried through a DuckDB recursive CTE with the IDENTICAL IEEE
    association, so even the error accumulation order is pinned and
    the gate hash-matches every output digit."""
    import pandas as pd

    from ..functions.stable import stable_avg

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(stable_avg("value", scale=6, dec="decimal(38,12)").alias("x"))
        .filter(F.col("x").isNotNull())
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("d")
        xs = [float(v) for v in pdf["x"]]
        l, b, esum = xs[0], 0.0, 0.0
        for x in xs[1:]:
            f = l + b
            esum = esum + abs(x - f)
            l_new = _HOLT_ALPHA * x + (1.0 - _HOLT_ALPHA) * (l + b)
            b = _HOLT_BETA * (l_new - l) + (1.0 - _HOLT_BETA) * b
            l = l_new
        q = lambda v: math.floor(v * 1000000.0 + 0.5) / 1000000.0
        n = len(xs)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "level": [q(l)],
                "trend": [q(b)],
                "forecast_next": [q(l + b)],
                "mae": [q(esum / (n - 1)) if n > 1 else None],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, n_days long, level double, trend double, "
        "forecast_next double, mae double",
    )


register(
    Query(
        name="holt_forecast",
        spark=_holt_forecast,
        oracle=f"""
            WITH RECURSIVE daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                       {sql_stable_avg('value', 6, 'decimal(38,12)')} AS x
                FROM events
                GROUP BY 1, 2
                HAVING count(value) > 0
            ),
            seq AS (
                SELECT event_type, d, x,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY d) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM daily
            ),
            h AS (
                SELECT event_type, rn, n, x AS l,
                       CAST(0.0 AS DOUBLE) AS b,
                       CAST(0.0 AS DOUBLE) AS esum
                FROM seq WHERE rn = 1
                UNION ALL
                SELECT s.event_type, s.rn, s.n,
                       {_HOLT_ALPHA!r} * s.x
                           + (1.0 - {_HOLT_ALPHA!r}) * (h.l + h.b),
                       {_HOLT_BETA!r} * (({_HOLT_ALPHA!r} * s.x
                           + (1.0 - {_HOLT_ALPHA!r}) * (h.l + h.b)) - h.l)
                           + (1.0 - {_HOLT_BETA!r}) * h.b,
                       h.esum + abs(s.x - (h.l + h.b))
                FROM h JOIN seq s
                  ON s.event_type = h.event_type AND s.rn = h.rn + 1
            )
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_days,
                   floor(l * 1000000.0 + 0.5) / 1000000.0 AS level,
                   floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
                   floor((l + b) * 1000000.0 + 0.5) / 1000000.0
                       AS forecast_next,
                   CASE WHEN n > 1
                        THEN floor(esum / (n - 1) * 1000000.0 + 0.5)
                             / 1000000.0
                        END AS mae
            FROM h
            WHERE rn = n
        """,
        tags=("stats", "forecast"),
        doc="Holt double-exponential smoothing + walk-forward MAE per "
        "event type (sequential recursion via per-group applyInPandas; "
        "recursive-CTE mirror carries level, trend AND the error sum "
        "so the accumulation order is pinned)",
    )
)
