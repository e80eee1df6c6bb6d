"""OLAP surface extensions past the reference's hand-built rollups
(3_Silver_to_Gold.py:62-72 re-aggregates day→month→quarter manually):
grouping sets, pivot, semi-structured JSON extraction, exact
percentiles. All built-in Catalyst operators — Expand for rollup (one
shuffle for every grouping set, not one per level like the reference's
re-agg chain), conditional-agg pivot with pinned values (no
values-discovery job), JSON path extraction JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import hex_to_bigint_sql, local_df
from ..operators.rounds import cut


def revenue_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (year, quarter): detail, per-year subtotal, grand
    total in ONE pass — Spark's Expand operator replicates rows per
    grouping set before a single shuffle. ``grouping_id`` disambiguates
    subtotal rows from genuine null keys (there are none here, but the
    discipline matters on nullable dimensions)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        "o_totalprice",
    )
    return (
        orders.rollup("order_year", "order_quarter")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("bigint").alias("grouping_level"),
        )
    )


_ROLLUP_SQL = """
    SELECT year(o_orderdate) AS order_year,
           quarter(o_orderdate) AS order_quarter,
           round(sum(o_totalprice), 2) AS total_revenue,
           count(*) AS n_orders,
           CAST(GROUPING(year(o_orderdate), quarter(o_orderdate)) AS BIGINT) AS grouping_level
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), quarter(o_orderdate))
"""


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, year): every subtotal combination — detail,
    per-status, per-year, grand total — in ONE pass (the Expand
    operator replicates each row into its 4 grouping sets before a
    single shuffle; 4× map-side rows, zero extra scans — vs 4 separate
    jobs re-reading the fact). Complements `revenue_rollup_sets`'
    hierarchical ROLLUP with the full cross-product lattice a BI
    dashboard slices on. Revenue is exact cents so subtotal rows (which
    sum the SAME doubles in a different grouping) can never drift a ulp
    from their detail rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").alias("order_year"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return orders.cube("o_orderstatus", "order_year").agg(
        (F.round(F.sum("price"), 2) * 100).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().cast("bigint").alias("grouping_level"),
    )


_CUBE_SQL = """
    SELECT o_orderstatus,
           year(o_orderdate) AS order_year,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100
                AS BIGINT) AS revenue_cents,
           count(*) AS n_orders,
           CAST(GROUPING(o_orderstatus, year(o_orderdate)) AS BIGINT)
               AS grouping_level
    FROM orders
    GROUP BY CUBE(o_orderstatus, year(o_orderdate))
"""


def lapsed_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op front door (the one §2.5 set operation without a
    representative): customers who ordered in 1995 but not in 1996 —
    the churn cohort. Both sides reduce to DISTINCT keys first (so
    EXCEPT ALL ≡ EXCEPT and each side is one map-side-combined
    distinct), the except itself plans as a left-anti hash join on the
    key, and the surviving keys join back to the customer dim for
    segment context. At 100 TB both sides are |customers|-bounded after
    the distinct — the except never sees fact-sized inputs."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def _buyers(yr: int) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == yr)
            .select("o_custkey")
            .distinct()
        )

    lapsed = _buyers(1995).exceptAll(_buyers(1996))
    return lapsed.join(cust, lapsed.o_custkey == cust.c_custkey, "inner").select(
        "c_custkey", "c_mktsegment"
    )


_EXCEPT_SQL = """
    WITH lapsed AS (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    SELECT c.c_custkey, c.c_mktsegment
    FROM lapsed l JOIN customer c ON l.o_custkey = c.c_custkey
"""


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median unit price per brand — "the price at
    which half the purchased volume sits below", the robust price-point
    statistic a plain median (which weights a 1-unit and a 50-unit line
    equally) gets wrong. No built-in computes this; the distributed
    formulation is exact and all-integer: collapse to the (brand,
    price) grain first (map-side combined), then one brand-partitioned
    window gives each price its cumulative quantity, and the weighted
    median is the MINIMUM price whose doubled cumulative quantity
    reaches the brand total (lower weighted median — no interpolation,
    so no float). The window runs over the price-distinct grain (≤
    |prices per brand| rows), never over raw line items."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("bigint").alias("qty")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
    )
    grain = (
        li.join(part, li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand", "price_cents")
        .agg(F.sum("qty").alias("qty"))
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("p_brand")
    return (
        grain.withColumn("cum_qty", F.sum("qty").over(w_cum))
        .withColumn("total_qty", F.sum("qty").over(w_tot))
        .groupBy("p_brand")
        .agg(
            F.min(
                F.when(
                    F.col("cum_qty") * 2 >= F.col("total_qty"), F.col("price_cents")
                )
            ).alias("weighted_median_cents"),
            F.max("total_qty").alias("total_qty"),
        )
    )


_WEIGHTED_MEDIAN_SQL = """
    WITH grain AS (
        SELECT p.p_brand,
               CAST(floor(p.p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT p_brand, price_cents, qty,
               sum(qty) OVER (PARTITION BY p_brand ORDER BY price_cents
                              ROWS UNBOUNDED PRECEDING) AS cum_qty,
               sum(qty) OVER (PARTITION BY p_brand) AS total_qty
        FROM grain
    )
    SELECT p_brand,
           CAST(min(CASE WHEN cum_qty * 2 >= total_qty THEN price_cents END)
                AS BIGINT) AS weighted_median_cents,
           CAST(max(total_qty) AS BIGINT) AS total_qty
    FROM cum
    GROUP BY p_brand
"""


def robust_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-brand outlier screen: median + MAD (median absolute
    deviation) instead of mean + stddev — the estimator that does NOT
    let the outliers it is hunting inflate its own threshold (one fat
    tail wrecks a z-score; the median/MAD breakdown point is 50%).
    Flags parts whose |price − median| exceeds 3×MAD and reports the
    per-brand summary.

    Everything is integer-exact: both medians are LOWER medians via the
    cumulative-count trick (collapse to the (brand, value) grain, one
    brand-partitioned window over the value-distinct grain, min value
    whose doubled cumulative count reaches the total) — the same
    no-interpolation formulation as `weighted_median_price`, applied
    twice (prices, then deviations). The per-brand medians join back as
    a |brands|-row broadcast. No float, no unpartitioned window, two
    value-grain shuffles."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )

    def _lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        grain = df.groupBy("p_brand", val).agg(F.count(F.lit(1)).alias("n"))
        w_cum = (
            Window.partitionBy("p_brand")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy("p_brand")
        return (
            grain.withColumn("cum", F.sum("n").over(w_cum))
            .withColumn("tot", F.sum("n").over(w_tot))
            .groupBy("p_brand")
            .agg(
                F.min(
                    F.when(F.col("cum") * 2 >= F.col("tot"), F.col(val))
                ).alias(out)
            )
        )

    med = _lower_median(part, "cents", "median_cents")
    dev = part.join(F.broadcast(med), "p_brand").select(
        "p_brand",
        "p_partkey",
        "cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("dev"),
        "median_cents",
    )
    mad = _lower_median(dev, "dev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.max("median_cents").alias("median_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_MAD_SQL = """
    WITH base AS (
        SELECT p_brand, p_partkey,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    ),
    med AS (
        SELECT p_brand,
               CAST(min(CASE WHEN cum * 2 >= tot THEN cents END) AS BIGINT)
                   AS median_cents
        FROM (
            SELECT p_brand, cents,
                   sum(n) OVER (PARTITION BY p_brand ORDER BY cents
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(n) OVER (PARTITION BY p_brand) AS tot
            FROM (SELECT p_brand, cents, count(*) AS n
                  FROM base GROUP BY 1, 2)
        )
        GROUP BY p_brand
    ),
    dev AS (
        SELECT b.p_brand, b.p_partkey, b.cents,
               abs(b.cents - m.median_cents) AS dev, m.median_cents
        FROM base b JOIN med m ON b.p_brand = m.p_brand
    ),
    mad AS (
        SELECT p_brand,
               CAST(min(CASE WHEN cum * 2 >= tot THEN dev END) AS BIGINT)
                   AS mad_cents
        FROM (
            SELECT p_brand, dev,
                   sum(n) OVER (PARTITION BY p_brand ORDER BY dev
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(n) OVER (PARTITION BY p_brand) AS tot
            FROM (SELECT p_brand, dev, count(*) AS n
                  FROM dev GROUP BY 1, 2)
        )
        GROUP BY p_brand
    )
    SELECT d.p_brand,
           max(d.median_cents) AS median_cents,
           max(a.mad_cents) AS mad_cents,
           count(*) AS n_parts,
           CAST(sum(CASE WHEN d.dev > 3 * a.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON d.p_brand = a.p_brand
    GROUP BY d.p_brand
"""


def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status → columns pivot of yearly revenue. Pivot values are PINNED
    (["O","F","P"]) so Spark skips the extra distinct-values job — at
    100 TB an unpinned pivot scans the fact twice."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .select(
            "order_year",
            F.col("O").alias("revenue_open"),
            F.col("F").alias("revenue_fulfilled"),
            F.col("P").alias("revenue_partial"),
        )
    )


_PIVOT_SQL = """
    SELECT year(o_orderdate) AS order_year,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS revenue_open,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS revenue_fulfilled,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS revenue_partial
    FROM orders
    GROUP BY ALL
"""


def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: ``props`` is a JSON string column;
    pull ``$.k`` (JVM-side ``get_json_object`` — no Python), aggregate
    per event type. The shape every telemetry/training-metadata pipeline
    needs before schema-on-read hardens into real columns."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    agg = events.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("k_total"),
        F.max(k).alias("k_max"),
    )
    # Mean emitted as an EXACT scaled integer (mean × 10⁴, floored):
    # pure bigint arithmetic on both sides, so the driver's hash layer
    # never sees a float to canonicalize (the r03 hash fail on this
    # query was a double `round(avg(bigint), 4)`).
    return agg.select(
        "event_type",
        "n_with_k",
        "k_total",
        F.expr("CAST(k_total * 10000 DIV n_with_k AS BIGINT)").alias("k_avg_e4"),
        "k_max",
    )


_JSON_SQL = """
    WITH agg AS (
        SELECT event_type,
               count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        FROM events
        GROUP BY ALL
    )
    SELECT event_type, n_with_k, k_total,
           CAST((k_total * 10000) // n_with_k AS BIGINT) AS k_avg_e4,
           k_max
    FROM agg
"""


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of order value per priority
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``). Exact percentile
    is a full-sort-per-group aggregate — fine on bounded groups; at
    100 TB swap to ``percentile_approx`` (t-digest sketch, mergeable
    map-side) exactly as the HLL variant swaps countDistinct."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        F.round(F.max("o_totalprice"), 2).alias("p100"),
    )


_PERCENTILE_SQL = """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           round(max(o_totalprice), 2) AS p100
    FROM orders
    GROUP BY ALL
"""


def percentile_accuracy_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible accuracy gate for the sketch-percentile path (the
    scale substitute for exact percentiles, same pattern as
    ``hll_accuracy_check``): per priority, the exact p50/p90 next to
    ``percentile_approx`` (accuracy=10000), reduced to a boolean RANK
    check: the fraction of group values at-or-below the approx
    percentile must sit within ``0.005 + 1.5/n`` of the target rank.
    Rank error is what the sketch actually GUARANTEES (≤ 1/accuracy);
    a value-relative bound is scale-fragile — at small n the exact
    (interpolated) percentile sits between data points that can be
    far apart in value, so "within 1% of exact value" failed at
    sf0.001 while the sketch was behaving perfectly. The 1.5/n term
    covers value discreteness; 0.005 covers the sketch. The oracle
    computes the exact side and asserts ``true``, giving the sketch a
    hash-checkable row; everything is deterministic for a fixed input.
    At 100 TB the approx variant is the ONLY viable form — its
    summaries merge map-side; exact percentile sorts every group."""
    orders = load_table(spark, sf_dir, "orders")
    # Array-form percentiles: ONE counts-map + ONE KLL sketch per group
    # shared across both percentage points, instead of four independent
    # aggregate states (two hashmap builds + two sketch builds over the
    # same column). Measured 0.73 -> 0.47 s on the sf0.1 agg with
    # bit-identical values — the r14 "shared sketch" advice, expressed
    # inside the plan so no cross-run memo (and no honesty-contract
    # carve-out) is needed.
    agg = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("__e"),
        F.expr(
            "percentile_approx(o_totalprice, array(0.5, 0.9), 10000)"
        ).alias("__a"),
    ).select(
        "o_orderpriority",
        F.col("__e")[0].alias("__e50"),
        F.col("__e")[1].alias("__e90"),
        F.col("__a")[0].alias("__a50"),
        F.col("__a")[1].alias("__a90"),
    )
    ranked = (
        orders.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(agg), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.first("__e50").alias("__e50"),
            F.first("__e90").alias("__e90"),
            F.count("*").alias("__n"),
            (
                F.sum(
                    F.when(F.col("o_totalprice") <= F.col("__a50"), 1).otherwise(0)
                )
                / F.count("*")
            ).alias("__r50"),
            (
                F.sum(
                    F.when(F.col("o_totalprice") <= F.col("__a90"), 1).otherwise(0)
                )
                / F.count("*")
            ).alias("__r90"),
        )
    )
    tol = F.lit(0.005) + F.lit(1.5) / F.col("__n")
    within = (F.abs(F.col("__r50") - 0.5) <= tol) & (
        F.abs(F.col("__r90") - 0.9) <= tol
    )
    return ranked.select(
        "o_orderpriority",
        F.round("__e50", 4).alias("exact_p50"),
        F.round("__e90", 4).alias("exact_p90"),
        within.alias("within_bound"),
    )


_PCT_ACCURACY_SQL = """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS exact_p90,
           true AS within_bound
    FROM orders
    GROUP BY ALL
"""


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one scan of the widest fact,
    date-bounded, grouped on two low-cardinality flags with a battery of
    sums/averages. The classic scan-dominated aggregate — the filter and
    the 7-column projection must reach the parquet reader (plan-audited
    in tests/test_plans_explain.py), because at 100 TB this query IS the
    scan: everything after the read is a few thousand grouped rows."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
"""


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped selective-filter revenue delta: three pushable
    range predicates and a two-column arithmetic sum, no join, no
    grouping. The purest predicate-pushdown benchmark — at 100 TB the
    win is row-group skipping on ``l_shipdate`` min/max stats, so the
    filter MUST appear under PushedFilters, not in a post-scan Filter
    node (plan-audited)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_FORECAST_SQL = """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
"""


def repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set-op: customers who ordered in BOTH 1996 and 1997.
    Spark plans INTERSECT as a left-semi join over distinct inputs —
    both sides shuffle once on the full row (here a single key column,
    so the row IS the key). Completes the engine's set-op surface next
    to EXCEPT (`customers_without_urgent_orders`) and the unions inside
    schema evolution."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = orders.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


_INTERSECT_SQL = """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


def revenue_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the status-pivot mart back in long form — wide
    marts feed BI, long form feeds ML/feature stores, and the engine
    must do both directions. ``DataFrame.unpivot`` is a single Expand
    (one output row per (id, value-column) pair, map-side) — no shuffle
    beyond what built the input. Nulls are dropped on both sides so the
    pivot round-trip is exact."""
    wide = order_status_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ["order_year"],
            ["revenue_open", "revenue_fulfilled", "revenue_partial"],
            "status_mart",
            "revenue",
        )
        .where(F.col("revenue").isNotNull())
    )


_UNPIVOT_SQL = """
    WITH wide AS (
        SELECT year(o_orderdate) AS order_year,
               round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS revenue_open,
               round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS revenue_fulfilled,
               round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS revenue_partial
        FROM orders
        GROUP BY ALL
    )
    SELECT order_year, status_mart, revenue FROM (
        SELECT order_year, 'revenue_open' AS status_mart, revenue_open AS revenue FROM wide
        UNION ALL
        SELECT order_year, 'revenue_fulfilled', revenue_fulfilled FROM wide
        UNION ALL
        SELECT order_year, 'revenue_partial', revenue_partial FROM wide
    ) WHERE revenue IS NOT NULL
"""


# ---------------------------------------------------------------------------
# ordered funnel + retention cohorts (product-analytics classics)
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("view", "click", "purchase")


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at a stage only if their FIRST occurrence of that stage comes after
    (or at) their first occurrence of every earlier stage — the strict
    form that distinguishes "clicked then viewed" from a real funnel
    traversal.

    Plan: one shuffle to the per-user grain (conditional ``min`` per
    stage — three aggregates over one pass, no pivot job), stage
    booleans composed map-side, then a global roll-up of three sums
    (AQE collapses it to a light final stage). Events scan prunes to
    (user_id, event_type, ts). Output is all-integers.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in _FUNNEL_STAGES
        ]
    )
    reached = firsts.select(
        "user_id",
        F.col("t_view").isNotNull().alias("s1"),
        (
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_click") >= F.col("t_view"))
        ).alias("s2"),
        (
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_click") >= F.col("t_view"))
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") >= F.col("t_click"))
        ).alias("s3"),
    )
    return reached.agg(
        F.sum(F.col("s1").cast("bigint")).alias("n_view"),
        F.sum(F.col("s2").cast("bigint")).alias("n_view_click"),
        F.sum(F.col("s3").cast("bigint")).alias("n_view_click_purchase"),
    )


_FUNNEL_SQL = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
                          AND t_purchase >= t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM firsts
"""


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE triangle: customers cohorted by
    first-purchase month, revenue summed per (cohort, months-since-
    first) cell — the revenue companion to `retention_cohorts`' count
    triangle, and the table every subscription/marketplace finance
    deck is built from. Revenue is exact integer CENTS (DECIMAL(18,4)
    sum then ×100), month offsets are pure integer calendar arithmetic
    ((y·12+m) − (y₀·12+m₀)) — nothing for engines to disagree on.

    Scale shape: first-purchase month and the cell rollup share the
    customer-key shuffle (two aggregations + one join, all on
    o_custkey); the output is O(months²) rows regardless of fact
    size."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("ym").alias("ym0"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            F.col("ym0").cast("bigint").alias("cohort_ym"),
            (F.col("ym") - F.col("ym0")).cast("bigint").alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active_customers"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) * 100"
                " AS BIGINT)"
            ).alias("revenue_cents"),
        )
    )


_COHORT_LTV_SQL = """
    WITH o AS (
        SELECT o_custkey, o_totalprice,
               year(o_orderdate) * 12 + month(o_orderdate) AS ym
        FROM orders
    ),
    first AS (SELECT o_custkey, min(ym) AS ym0 FROM o GROUP BY o_custkey)
    SELECT CAST(f.ym0 AS BIGINT) AS cohort_ym,
           CAST(o.ym - f.ym0 AS BIGINT) AS months_since,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) * 100
                AS BIGINT) AS revenue_cents
    FROM o JOIN first f USING (o_custkey)
    GROUP BY 1, 2
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by first-activity week,
    counted as retained in each later week they act in. The classic
    growth-analytics rollup, expressed as two aggregations on the same
    user-grain shuffle: first-week per user, then distinct
    (user, activity-week) pairs joined back to compute the offset.

    Scale shape: both aggregations and the join share the user_id key,
    so AQE plans one real exchange on user plus a map-side week
    dedup; the output triangle is O(weeks²) — tiny. Weeks are emitted
    as ISO date strings (``date_trunc`` weeks start Monday in both
    engines).
    """
    events = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    activity = events.select("user_id", week.alias("week")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                (F.unix_timestamp("week") - F.unix_timestamp("cohort_week"))
                / (7 * 86400)
            )
            .cast("bigint")
            .alias("week_offset"),
            "n_active",
        )
    )


_RETENTION_SQL = """
    WITH activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(floor(date_diff('day', cohort_week, week) / 7.0) AS BIGINT)
               AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN cohort USING (user_id)
    GROUP BY cohort.cohort_week, a.week
"""


def sketch_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users per event type computed by UNIONING daily
    DataSketches-HLL sketches — the mergeable-state pattern that fixes
    what SURVEY A2 documents as unfixable with plain counts: a rollup
    of daily ``countDistinct`` values over-counts the week (the
    reference's monthly/quarterly marts faithfully reproduce that
    over-count), but sketches union losslessly, so weekly distincts
    come from the pre-aggregated daily state WITHOUT re-scanning raw
    events. At 100 TB this is the difference between a mart that can
    answer "distinct users this quarter" from 90 daily sketch rows and
    one that re-reads a quarter of raw data.

    The sketch estimate itself is engine-specific, so the driver-
    visible output is the ``hll_accuracy_check`` pattern: exact weekly
    distincts (for the hash) next to a boolean asserting the unioned
    estimate lands within 5% (deterministic — the sketch is a pure
    function of the input set)."""
    events = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    daily = events.groupBy(
        F.col("event_type"), week.alias("week"), F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly_est = daily.groupBy("event_type", "week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = events.groupBy(F.col("event_type"), week.alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        weekly_est.join(exact, ["event_type", "week"])
        .select(
            "event_type",
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("sketch_within_5pct"),
        )
    )


_SKETCH_ROLLUP_SQL = """
    SELECT event_type,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS sketch_within_5pct
    FROM events
    GROUP BY event_type, date_trunc('week', ts)
"""


def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly order-value median from MERGED monthly KLL quantile
    sketches — the quantile companion to ``sketch_union_rollup``:
    exact percentiles don't pre-aggregate (a median of monthly medians
    is not the yearly median), but KLL sketches merge with bounded
    rank error, so the yearly quantile comes from 12 sketch rows
    instead of a year of raw orders. Driver-visible output follows the
    accuracy-gate pattern: exact row counts for the hash plus a
    boolean asserting the merged-sketch median lands within 5% of the
    exact yearly median (deterministic for a fixed input)."""
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate")
    monthly = orders.groupBy(
        year.alias("year"), F.month("o_orderdate").alias("month")
    ).agg(F.kll_sketch_agg_double(F.col("o_totalprice")).alias("sk"))
    # kll_merge_agg_double is the aggregate merge (SQL-registered; the
    # Python functions module only exposes the binary scalar) — partial
    # merges combine map-side like any aggregate, so group fan-in is
    # unbounded.
    yearly_est = monthly.groupBy("year").agg(
        F.kll_sketch_get_quantile_double(
            F.expr("kll_merge_agg_double(sk)"), F.lit(0.5)
        ).alias("est_median")
    )
    exact = orders.groupBy(year.alias("year")).agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_median"),
    )
    return (
        yearly_est.join(exact, "year")
        .select(
            F.col("year").cast("bigint").alias("year"),
            "n_orders",
            (
                F.abs(F.col("est_median") - F.col("exact_median"))
                / F.col("exact_median")
                <= 0.05
            ).alias("median_within_5pct"),
        )
    )


_KLL_ROLLUP_SQL = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           count(*) AS n_orders,
           true AS median_within_5pct
    FROM orders
    GROUP BY year(o_orderdate)
"""


def theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra from theta sketches: |clickers ∩
    purchasers| and |clickers \\ purchasers| computed by intersecting /
    differencing two PRE-BUILT per-type sketches — the capability HLL
    lacks (HLL unions only; theta supports the full algebra). At 100 TB
    this answers audience-overlap questions from per-segment sketch
    state without a raw-data distinct join.

    Driver-visible output is the accuracy-gate pattern: exact counts
    (from a per-user semi-join, for the hash) beside booleans asserting
    each sketch estimate lands within 5%."""
    events = load_table(spark, sf_dir, "events")
    # Both sketches come from ONE ungrouped conditional agg (nulls are
    # skipped by the aggregate), so an empty segment yields an empty
    # sketch estimating 0 — a groupBy-then-filter shape would instead
    # yield ZERO rows for that side and the downstream combine would
    # return no rows while the exact oracle returns one row of zeros.
    sketches = events.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("click_sk"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchase_sk"),
    )
    est = sketches.select(
        F.theta_sketch_estimate(
            F.expr("theta_intersection(click_sk, purchase_sk)")
        ).alias("est_both"),
        F.theta_sketch_estimate(
            F.expr("theta_difference(click_sk, purchase_sk)")
        ).alias("est_click_only"),
    )
    per_user = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    exact = per_user.agg(
        F.sum(F.expr("CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END")).alias(
            "exact_both"
        ),
        F.sum(F.expr("CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END")).alias(
            "exact_click_only"
        ),
    )
    return est.crossJoin(exact).select(
        "exact_both",
        "exact_click_only",
        (
            F.abs(F.col("est_both") - F.col("exact_both"))
            / F.greatest(F.col("exact_both"), F.lit(1))
            <= 0.05
        ).alias("intersection_within_5pct"),
        (
            F.abs(F.col("est_click_only") - F.col("exact_click_only"))
            / F.greatest(F.col("exact_click_only"), F.lit(1))
            <= 0.05
        ).alias("difference_within_5pct"),
    )


_THETA_SQL = """
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_both,
           CAST(sum(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_click_only,
           true AS intersection_within_5pct,
           true AS difference_within_5pct
    FROM per_user
"""


def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags on daily event value totals — the
    monitoring query every pipeline runs over its own volumes: a day is
    anomalous when it deviates from its trailing 7-day window by more
    than 2 standard deviations.

    Exactness design: totals are integer cents (``floor(value·100)`` —
    floor over one IEEE multiply, engine-exact on any data), and the
    z-test is CROSS-MULTIPLIED into pure integers — |x−μ|>2σ over the
    window (S=Σx, Q=Σx², n) ⇔ (x·n−S)² > 4·(n·Q−S²) — so no division,
    no sqrt, no float ever exists and the boolean is bit-stable across
    engines and partitionings. Flag defined for n≥3 trailing days.

    Shape: one hash-agg to the (type, day) grain, then a partitioned
    window (ROWS 7..1 PRECEDING) per type — state bounded by the
    window, distributed across types."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    x = F.col("cents")
    s = F.sum("cents").over(w)
    q = F.sum(x * x).over(w)
    n = F.count(F.lit(1)).over(w)
    lhs = (x * n - s) * (x * n - s)
    rhs = F.lit(4) * (n * q - s * s)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        x.alias("total_cents"),
        n.cast("bigint").alias("n_window"),
        ((n >= 3) & (lhs > rhs)).alias("is_anomaly"),
    )


_ANOMALY_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    win AS (
        SELECT event_type, day, cents,
               sum(cents) OVER w AS s,
               sum(cents * cents) OVER w AS q,
               count(*) OVER w AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           cents AS total_cents,
           CAST(n AS BIGINT) AS n_window,
           (n >= 3 AND
            (cents * n - s) * (cents * n - s) > 4 * (n * q - s * s))
               AS is_anomaly
    FROM win
"""


_HIST_BIN_WIDTH = 25_000


def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values (fixed 25k bins): the
    distribution pass behind dashboards and skew diagnostics. Binning
    is ``floor(x / width)`` — one IEEE divide + floor, engine-exact —
    and per-bin revenue is DECIMAL-summed cents per the money
    convention. One map + one hash-agg on the bin key; the bin count
    is bounded by the value range, never the row count."""
    orders = load_table(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / _HIST_BIN_WIDTH).cast("bigint")
    return orders.groupBy(bin_id.alias("bin_id")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2) * 100
        )
        .cast("bigint")
        .alias("revenue_cents"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )


_HISTOGRAM_SQL = f"""
    SELECT CAST(floor(o_totalprice / {_HIST_BIN_WIDTH}) AS BIGINT) AS bin_id,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) * 100
                AS BIGINT) AS revenue_cents,
           round(min(o_totalprice), 2) AS bin_min,
           round(max(o_totalprice), 2) AS bin_max
    FROM orders
    GROUP BY 1
"""


# Mid-range of the testdata's 1995-2001 order dates, so both periods
# are populated at every SF.
_DRIFT_SPLIT_DATE = "1998-01-01"


def order_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots — the
    check a training pipeline runs before mixing a new data dump with
    last quarter's: equi-width value bins (``order_value_histogram``'s
    binning), per-bin counts for the BEFORE and AFTER periods, each
    period's share of its own total in exact integer permille, and the
    per-bin absolute share drift. Σ|drift| over bins is the L1
    (total-variation×2) distance — the alarm threshold — derivable by
    summing the output; everything stays bigint so the number is
    identical on every engine and every partitioning.

    Shape: one scan with a conditional-count hash-agg on the bin key
    (bin count bounded by value range, not rows), then a single-row
    totals aggregate broadcast back over the bins — the
    ``key_skew_profile`` combine pattern."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit(_DRIFT_SPLIT_DATE).cast("timestamp")
    # Pinned: the totals row and the final projection both consume the
    # bin counts; without materialization each branch re-scans orders
    # (|bins| rows to pin — bounded by the value range).
    bins = cut(
        orders.groupBy(
            F.floor(F.col("o_totalprice") / _HIST_BIN_WIDTH)
            .cast("bigint")
            .alias("bin_id")
        )
        .agg(
            F.count(F.when(split, 1)).alias("n_before"),
            F.count(F.when(~split, 1)).alias("n_after"),
        )
    )
    totals = bins.agg(
        F.sum("n_before").alias("tot_before"),
        F.sum("n_after").alias("tot_after"),
    )
    share_b = F.expr("n_before * 1000 DIV tot_before")
    share_a = F.expr("n_after * 1000 DIV tot_after")
    return bins.crossJoin(F.broadcast(totals)).select(
        "bin_id",
        "n_before",
        "n_after",
        share_b.cast("bigint").alias("share_before_permille"),
        share_a.cast("bigint").alias("share_after_permille"),
        F.abs(share_b - share_a).cast("bigint").alias("drift_permille"),
    )


_DRIFT_SQL = f"""
    WITH bins AS (
        SELECT CAST(floor(o_totalprice / {_HIST_BIN_WIDTH}) AS BIGINT) AS bin_id,
               count(*) FILTER (o_orderdate <  TIMESTAMP '{_DRIFT_SPLIT_DATE}')
                   AS n_before,
               count(*) FILTER (o_orderdate >= TIMESTAMP '{_DRIFT_SPLIT_DATE}')
                   AS n_after
        FROM orders
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(n_before) AS BIGINT) AS tot_before,
               CAST(sum(n_after) AS BIGINT) AS tot_after
        FROM bins
    )
    SELECT bin_id,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           CAST((n_before * 1000) // tot_before AS BIGINT)
               AS share_before_permille,
           CAST((n_after * 1000) // tot_after AS BIGINT)
               AS share_after_permille,
           CAST(abs((n_before * 1000) // tot_before
                    - (n_after * 1000) // tot_after) AS BIGINT)
               AS drift_permille
    FROM bins CROSS JOIN t
"""


# Shared expression text for the PSI terms: the SAME character-for-
# character arithmetic runs on both engines (Spark SQL and DuckDB).
# CRITICAL: no libm transcendentals — Spark's JVM ln() and DuckDB's C
# ln() disagree in the last ulp, which flipped a floor() boundary at
# sf0.001 during development. The logarithm is instead an explicitly
# truncated atanh series (ln(p/q) = 2*artanh(z), z=(p-q)/(p+q)) built
# from *, /, +, - only: IEEE-754 basic ops are correctly rounded on
# BOTH engines, so every intermediate double — and therefore the
# floor() quantization — is bit-identical by construction, not by
# luck. Truncation error at 5 terms is < 1e-3 for share ratios up to
# ~5x (z ≤ 0.67) — noise for a drift score whose alarm threshold is
# 0.25. Laplace (+1) smoothing keeps p, q > 0 on bins one period
# never hit, which is where raw PSI blows up.
# NB: `x * 1.0` is NOT a double coercion — both engines parse 1.0 as
# DECIMAL and run decimal division with engine-specific scale/rounding
# (the first value this shipped with diverged by exactly 1 micro-unit).
# Explicit CAST AS DOUBLE is the only portable float coercion.
_PSI_P = "(CAST(n_before + 1 AS DOUBLE) / CAST(tot_before + n_bins AS DOUBLE))"
_PSI_Q = "(CAST(n_after + 1 AS DOUBLE) / CAST(tot_after + n_bins AS DOUBLE))"
_PSI_Z = f"(({_PSI_P} - {_PSI_Q}) / ({_PSI_P} + {_PSI_Q}))"
_PSI_LN = (
    f"(2 * {_PSI_Z} * (1 + ({_PSI_Z}*{_PSI_Z})/3"
    f" + ({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})/5"
    f" + ({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})/7"
    f" + ({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})*({_PSI_Z}*{_PSI_Z})/9))"
)
_PSI_TERM = (
    f"CAST(floor(({_PSI_P} - {_PSI_Q}) * {_PSI_LN} * 1000000) AS BIGINT)"
)


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift between the same two order
    snapshots as [[order_drift_histogram]] — the industry-standard
    drift score (PSI < 0.1 stable, > 0.25 shifted) next to the
    histogram's L1 distance. Per-bin contribution (p−q)·ln(p/q) with
    Laplace-smoothed shares, quantized to integer micro-units with a
    series logarithm built from IEEE basic ops only (see _PSI_LN —
    libm ln() differs between the JVM and C in the last ulp and DID
    flip a floor boundary), so the quantization is bit-identical
    across engines by construction. Each term is ≥ 0 ((p−q) and ln(p/q) share sign), so
    Σ psi_micro over the output IS the corpus PSI×1e6. Same plan shape
    as the histogram: one conditional-count hash-agg on the bin key,
    single-row totals broadcast back."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit(_DRIFT_SPLIT_DATE).cast("timestamp")
    bins = cut(
        orders.groupBy(
            F.floor(F.col("o_totalprice") / _HIST_BIN_WIDTH)
            .cast("bigint")
            .alias("bin_id")
        )
        .agg(
            F.count(F.when(split, 1)).alias("n_before"),
            F.count(F.when(~split, 1)).alias("n_after"),
        )
    )
    totals = bins.agg(
        F.sum("n_before").alias("tot_before"),
        F.sum("n_after").alias("tot_after"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    return bins.crossJoin(F.broadcast(totals)).select(
        "bin_id",
        "n_before",
        "n_after",
        F.expr(_PSI_TERM).alias("psi_micro"),
    )


_PSI_SQL = f"""
    WITH bins AS (
        SELECT CAST(floor(o_totalprice / {_HIST_BIN_WIDTH}) AS BIGINT) AS bin_id,
               count(*) FILTER (o_orderdate <  TIMESTAMP '{_DRIFT_SPLIT_DATE}')
                   AS n_before,
               count(*) FILTER (o_orderdate >= TIMESTAMP '{_DRIFT_SPLIT_DATE}')
                   AS n_after
        FROM orders
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(n_before) AS BIGINT) AS tot_before,
               CAST(sum(n_after) AS BIGINT) AS tot_after,
               CAST(count(*) AS BIGINT) AS n_bins
        FROM bins
    )
    SELECT bin_id,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           {_PSI_TERM} AS psi_micro
    FROM bins CROSS JOIN t
"""


_GINI_RANGES = 16


def supplier_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient across suppliers — the
    "how skewed is our marketplace" number, computed ENTIRELY in
    integer arithmetic: with supplier revenues x_1 ≤ … ≤ x_n in exact
    cents and rank i, Gini = Σ(2i−n−1)·x_i / (n·Σx_i); the output is
    floor(10⁶·numer/denom), a pure bigint division — no float ever
    exists, so no engine can disagree (the lesson of [[drift_psi]]'s
    two float traps, taken to its conclusion: when the formula has a
    rational closed form, use it).

    Shape: lineitem aggregates to supplier grain (one shuffle, map-side
    combined); the global rank `i` is then a **two-phase distributed
    prefix count** (the `token_budget_shards` pattern, r7 verdict item
    1): range-repartition on (revenue_cents, l_suppkey) so partition
    ids follow the sort order, `row_number` WITHIN each partition, then
    add per-partition row-count offsets. The offsets come from a
    triangular self-join on the tiny per-partition totals (≤
    `_GINI_RANGES` rows), NOT a no-partition window — this plan
    contains zero single-partition WindowExec nodes (pinned by
    `tests/test_plans_explain.py::test_gini_has_no_global_window`), so
    it scales with the supplier dimension instead of funneling it
    through one task. Ties rank by (revenue, supplier key):
    deterministic on both engines.

    The per-row `n` of the textbook fold is algebraically eliminated:
    Σ(2i−n−1)·x = 2·Σ(i·x) − (n+1)·Σx, so the final aggregate only
    needs count, Σx and Σ(i·x)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.expr(
            "CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)"
            " AS DECIMAL(18,4))), 2) * 100 AS BIGINT)"
        ).alias("revenue_cents")
    )
    # The eager cut pins the (pid, row) layout: the rank branch
    # and the totals branch below must see the SAME range split (the
    # sampled boundaries are not guaranteed identical across
    # re-evaluations — same trap documented at mlprep.token_budget_shards).
    ranged = cut(
        per_supp.repartitionByRange(_GINI_RANGES, "revenue_cents", "l_suppkey")
        .withColumn("pid", F.spark_partition_id())
    )
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("pcnt"))
    offsets = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.pcnt"), F.lit(0)).alias("offset"))
    )
    local_rank = F.row_number().over(
        Window.partitionBy("pid").orderBy("revenue_cents", "l_suppkey")
    )
    ranked = (
        ranged.withColumn("local_rank", local_rank)
        .join(F.broadcast(offsets), "pid")
        .select(
            "revenue_cents",
            (F.col("offset") + F.col("local_rank")).cast("bigint").alias("i"),
        )
    )
    # DECIMAL(38,0) for the fold: numer*1e6 exceeds int64 already at
    # sf0.1 (Spark ANSI raised ARITHMETIC_OVERFLOW; DuckDB silently
    # survives on HUGEINT). `div` (IntegralDivide) on decimals is an
    # exact integer quotient on both engines, so exactness is kept.
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("revenue_cents").cast("bigint").alias("total_revenue_cents"),
        F.expr(
            "CAST((2 * sum(CAST(i AS DECIMAL(38,0)) * revenue_cents)"
            " - (count(1) + 1) * sum(CAST(revenue_cents AS DECIMAL(38,0))))"
            " * 1000000 div (CAST(count(1) AS DECIMAL(38,0))"
            " * sum(CAST(revenue_cents AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("gini_e6"),
    )


_GINI_SQL = """
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) * 100 AS BIGINT)
                   AS revenue_cents
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT revenue_cents,
               CAST(row_number() OVER (ORDER BY revenue_cents, l_suppkey)
                    AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM per_supp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(revenue_cents) AS BIGINT) AS total_revenue_cents,
           CAST((sum((2*i - n - 1) * revenue_cents) * 1000000)
                // (count(*) * sum(revenue_cents)) AS BIGINT) AS gini_e6
    FROM ranked
"""


# Count-min sketch parameters, shared by the Spark plans and the oracle
# text below. d=3 pairwise-independent multiply-shift hashes over the
# Mersenne prime 2^31-1; w=1024 buckets. a*k stays under 2^62 for any
# int32 key, so the arithmetic is exact BIGINT on both engines.
_CMS_P = 2147483647
_CMS_W = 1024
_CMS_HASHES = ((0, 1299721, 7), (1, 1990921, 5003), (2, 2654435, 60013))


def _cms_buckets(key_col: str):
    """Array of (row, bucket) structs — one per CMS hash row."""
    k = F.col(key_col)
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (((F.lit(a) * k + F.lit(b)) % _CMS_P) % _CMS_W).alias("bucket"),
            )
            for r, a, b in _CMS_HASHES
        ]
    )


def _cms_union_sql(table_expr: str, key_expr: str) -> str:
    """UNION ALL text replaying the d hash rows in engine-neutral SQL."""
    parts = [
        f"SELECT {key_expr} AS k, {r} AS r,"
        f" (({a} * {key_expr} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket"
        f" FROM {table_expr}"
        for r, a, b in _CMS_HASHES
    ]
    return "\nUNION ALL ".join(parts)


def _cms_sketch(df, key_col: str):
    """d×w count-min sketch of a key column: ≤ d·w rows total.

    The explode fans each key into its d (row, bucket) cells; the
    groupBy's map-side partial combine collapses every partition to at
    most d·w (=3072) rows before the shuffle, so sketch construction
    moves O(d·w) bytes per partition regardless of input size — the
    whole point of the sketch at 100 TB. The resulting state is LINEAR
    (sum of per-batch sketches == whole-input sketch, exactly), so it
    folds incrementally via ``maintenance.merge_aggregate`` like any
    additive aggregate."""
    return (
        df.select(F.explode(_cms_buckets(key_col)).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _cms_estimates(keys, sketch, key_col: str):
    """Point estimates: min over the d rows of each key's bucket count.

    The sketch (≤ d·w rows) broadcasts; candidate keys never shuffle."""
    cand = keys.select(
        F.col(key_col).alias("k"), F.explode(_cms_buckets(key_col)).alias("rb")
    )
    return (
        cand.join(
            F.broadcast(sketch),
            (F.col("rb.r") == F.col("r")) & (F.col("rb.bucket") == F.col("bucket")),
            "left",
        )
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count"))
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-ordered parts estimated from a COUNT-MIN SKETCH of
    lineitem part keys — the frequency companion to the engine's
    HLL (distincts), KLL (quantiles) and theta (set algebra) sketches.
    The d×w counter grid is built in one pass with map-side combine
    (≤ d·w rows leave each partition no matter the input size), and
    point estimates probe it by broadcast — so "what are the hot keys"
    is answerable from 3072 persisted counters instead of a re-scan,
    and per-batch sketches SUM into the whole-corpus sketch exactly
    (linearity), giving the incremental path a trivial fold.

    Unlike the HLL/KLL gates, the hash parameters are explicit integer
    arithmetic (multiply-mod over 2^31-1), so the estimate is a pure
    deterministic function of the input and the driver VALUE-oracles
    it: DuckDB replays the same hashes and must reproduce every
    estimated count bit-for-bit. Candidate keys come from the part
    dimension (bounded); absent keys receive the usual one-sided CMS
    overestimate — the min over their (possibly collided) bucket
    counters, which is 0 only when some probed cell is empty (the
    coalesce-to-0 covers cells entirely missing from the sketch)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("bigint").alias("k")
    )
    keys = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("k")
    )
    est = _cms_estimates(keys, _cms_sketch(li, "k"), "k")
    return (
        est.select(F.col("k").alias("part_key"), F.col("est_count").cast("bigint"))
        .orderBy(F.desc("est_count"), F.asc("part_key"))
        .limit(20)
    )


_CMS_HH_SQL = f"""
    WITH keyed AS (SELECT CAST(l_partkey AS BIGINT) AS k FROM lineitem),
    hashed AS (
        {_cms_union_sql("keyed", "k")}
    ),
    sketch AS (
        SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
        FROM hashed GROUP BY r, bucket
    ),
    pk AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
    cand AS (
        {_cms_union_sql("pk", "k")}
    ),
    est AS (
        SELECT cand.k AS part_key,
               CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est_count
        FROM cand LEFT JOIN sketch s
          ON s.r = cand.r AND s.bucket = cand.bucket
        GROUP BY cand.k
    )
    SELECT part_key, est_count FROM est
    ORDER BY est_count DESC, part_key ASC
    LIMIT 20
"""


def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-CARDINALITY estimation from two count-min sketches — the
    planner primitive behind "how big will events ⋈ orders be?"
    answered WITHOUT running the join: |A ⋈ B| = Σ_k f_A(k)·f_B(k),
    and the CMS estimate is min over the d hash rows of the row-wise
    sketch dot product (AMS/CMS inner-product estimator; one-sided
    overestimate, exactly like point lookups). Each side's sketch is
    d·w = 3072 counters built in one pass with map-side combine, so at
    100 TB the estimate costs two narrow scans + a 3072-row join —
    the sketches can also be maintained incrementally (they're linear)
    and the estimate becomes FREE at plan time.

    Deterministic end-to-end (explicit multiply-mod hashes), so the
    driver value-oracles estimate AND exact side by side; the exact
    count is computed scalably as Σ f_A·f_B over the per-key frequency
    tables, never by materializing join rows."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("k")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("k")
    )
    dots = (
        _cms_sketch(ev, "k")
        .alias("a")
        .join(
            _cms_sketch(od, "k").alias("b"),
            (F.col("a.r") == F.col("b.r")) & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.r").alias("r"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("bigint").alias("est_join_rows"))
    fe = ev.groupBy("k").agg(F.count(F.lit(1)).alias("fa"))
    fo = od.groupBy("k").agg(F.count(F.lit(1)).alias("fb"))
    exact = (
        fe.join(fo, "k")
        .agg(F.sum(F.col("fa") * F.col("fb")).cast("bigint").alias("exact_join_rows"))
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_join_rows",
            "est_join_rows",
            F.expr("est_join_rows * 1000 div exact_join_rows")
            .cast("bigint")
            .alias("est_permille_of_exact"),
            (F.col("est_join_rows") >= F.col("exact_join_rows")).alias(
                "never_underestimates"
            ),
        )
    )


_CMS_JOIN_SIZE_SQL = f"""
    WITH ea AS ({_cms_union_sql("events", "CAST(user_id AS BIGINT)")}),
    sa AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
           FROM ea GROUP BY r, bucket),
    ob AS ({_cms_union_sql("orders", "CAST(o_custkey AS BIGINT)")}),
    sb AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
           FROM ob GROUP BY r, bucket),
    dots AS (
        SELECT sa.r, CAST(sum(sa.c * sb.c) AS BIGINT) AS dot
        FROM sa JOIN sb ON sa.r = sb.r AND sa.bucket = sb.bucket
        GROUP BY sa.r
    ),
    ex AS (
        SELECT CAST(sum(fa.n * fb.n) AS BIGINT) AS exact_join_rows
        FROM (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1) fa
        JOIN (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) fb
          USING (k)
    )
    SELECT ex.exact_join_rows,
           (SELECT CAST(min(dot) AS BIGINT) FROM dots) AS est_join_rows,
           CAST((SELECT min(dot) FROM dots) * 1000 // ex.exact_join_rows
                AS BIGINT) AS est_permille_of_exact,
           (SELECT min(dot) FROM dots) >= ex.exact_join_rows
               AS never_underestimates
    FROM ex
"""


def cms_accuracy_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible certification of the count-min guarantee over
    every key actually present in lineitem: the estimate may NEVER
    undercount (min-of-counters ≥ true count, structurally), and the
    worst overcount is emitted as an exact integer for the oracle to
    reproduce. One row: key count, underestimate count (always 0 —
    the one-sided CMS guarantee is deterministic, not probabilistic),
    max/total overestimate, and the no-underestimates gate. Everything
    is exact integer arithmetic, so unlike ``hll_accuracy_check`` the
    oracle recomputes the sketch rather than trusting a tolerance."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("bigint").alias("k")
    )
    truth = li.groupBy("k").agg(F.count(F.lit(1)).alias("true_count"))
    est = _cms_estimates(truth, _cms_sketch(li, "k"), "k")
    joined = truth.join(est, "k")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(
            F.when(F.col("est_count") < F.col("true_count"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_underestimates"),
        F.max(F.col("est_count") - F.col("true_count"))
        .cast("bigint")
        .alias("max_overestimate"),
        F.sum(F.col("est_count") - F.col("true_count"))
        .cast("bigint")
        .alias("total_overestimate"),
    ).select(
        "n_keys",
        "n_underestimates",
        "max_overestimate",
        "total_overestimate",
        (F.col("n_underestimates") == 0).alias("no_underestimates"),
    )


_CMS_ACCURACY_SQL = f"""
    WITH keyed AS (SELECT CAST(l_partkey AS BIGINT) AS k FROM lineitem),
    truth AS (
        SELECT k, CAST(count(*) AS BIGINT) AS true_count
        FROM keyed GROUP BY k
    ),
    hashed AS (
        {_cms_union_sql("keyed", "k")}
    ),
    sketch AS (
        SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
        FROM hashed GROUP BY r, bucket
    ),
    cand AS (
        {_cms_union_sql("truth", "k")}
    ),
    est AS (
        SELECT cand.k,
               CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est_count
        FROM cand LEFT JOIN sketch s
          ON s.r = cand.r AND s.bucket = cand.bucket
        GROUP BY cand.k
    ),
    j AS (SELECT t.true_count, e.est_count
          FROM truth t JOIN est e ON t.k = e.k)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN est_count < true_count THEN 1 ELSE 0 END)
                AS BIGINT) AS n_underestimates,
           CAST(max(est_count - true_count) AS BIGINT) AS max_overestimate,
           CAST(sum(est_count - true_count) AS BIGINT) AS total_overestimate,
           sum(CASE WHEN est_count < true_count THEN 1 ELSE 0 END) = 0
               AS no_underestimates
    FROM j
"""


#: WOE ratio ((n_pos+1)/(tot_pos+k)) / ((n_neg+1)/(tot_neg+k)) — the
#: Laplace-smoothed odds ratio per category vs the corpus. Shared text;
#: the +1/+n_cats smoothing keeps both numerator and denominator > 0.
_WOE_ARG = (
    "((CAST(n_pos + 1 AS DOUBLE) / CAST(tot_pos + n_cats AS DOUBLE))"
    " / (CAST(n_neg + 1 AS DOUBLE) / CAST(tot_neg + n_cats AS DOUBLE)))"
)
_WOE_DIFF = (
    "(CAST(n_pos + 1 AS DOUBLE) / CAST(tot_pos + n_cats AS DOUBLE)"
    " - CAST(n_neg + 1 AS DOUBLE) / CAST(tot_neg + n_cats AS DOUBLE))"
)


def _woe_exprs() -> tuple[str, str]:
    from ..functions import ln_from_kz_sql

    ln = ln_from_kz_sql("__ln_k", "__ln_z")
    return (
        f"CAST(floor({ln} * 1.0e6) AS BIGINT)",
        f"CAST(floor({_WOE_DIFF} * {ln} * 1.0e6) AS BIGINT)",
    )


def priority_status_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order priority against the
    finished-order target — the credit-scoring-style categorical
    encoder (WOE = ln of the smoothed class-conditional odds ratio)
    plus each category's Information-Value contribution, the
    feature-selection score (IV = Σ (p⁺−p⁻)·WOE, every term ≥ 0 since
    the factors share sign). Third consumer of the portable ln, so the
    micro-quantized scores are bit-identical across engines by
    construction.

    Shape: one conditional-count hash aggregate on the category key
    (map-side combined), single-row class totals broadcast back, then
    a narrow codegen projection — the same plan skeleton as
    [[drift_psi]]. At any scale the category table is the grain of the
    feature, not the data."""
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    orders = load_table(spark, sf_dir, "orders")
    pos = F.col("o_orderstatus") == "F"
    cats = cut(
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(pos, 1)).cast("bigint").alias("n_pos"),
            F.count(F.when(~pos, 1)).cast("bigint").alias("n_neg"),
        )
    )
    totals = cats.agg(
        F.sum("n_pos").cast("bigint").alias("tot_pos"),
        F.sum("n_neg").cast("bigint").alias("tot_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_cats"),
    )
    woe, iv = _woe_exprs()
    return (
        cats.crossJoin(F.broadcast(totals))
        .withColumn("__ln_k", F.expr(ln_k_sql(_WOE_ARG)))
        .withColumn("__ln_m", F.expr(ln_m_sql(_WOE_ARG, "__ln_k")))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .select(
            "o_orderpriority",
            "n_pos",
            "n_neg",
            F.expr(woe).alias("woe_micro"),
            F.expr(iv).alias("iv_micro"),
        )
    )


def _woe_sql() -> str:
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    woe, iv = _woe_exprs()
    return f"""
    WITH cats AS (
        SELECT o_orderpriority,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_pos,
               CAST(count(*) FILTER (o_orderstatus <> 'F') AS BIGINT) AS n_neg
        FROM orders GROUP BY o_orderpriority
    ),
    t AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
               CAST(sum(n_neg) AS BIGINT) AS tot_neg,
               CAST(count(*) AS BIGINT) AS n_cats
        FROM cats
    ),
    s1 AS (SELECT cats.*, t.*, {ln_k_sql(_WOE_ARG)} AS __ln_k
           FROM cats CROSS JOIN t),
    s2 AS (SELECT *, {ln_m_sql(_WOE_ARG, "__ln_k")} AS __ln_m FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2)
    SELECT o_orderpriority, n_pos, n_neg,
           {woe} AS woe_micro,
           {iv} AS iv_micro
    FROM s3
"""


_WOE_SQL = _woe_sql()


#: floor(1000·log10(1 + 1/d)) — precomputed in Python, embedded as
#: integer literals in BOTH engines' text, so no runtime log exists.
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 124, 4: 96, 5: 79, 6: 66, 7: 57, 8: 51, 9: 45}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PERMILLE.items()
) + " END"


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals against
    Benford's law — the classic forensic-accounting / data-fabrication
    screen (hand-entered or synthesized amounts over-represent mid
    digits). Per digit: observed count, observed permille, the
    expected Benford permille (PRECOMPUTED integer constants — no
    runtime logarithm at all), and the absolute deviation; the
    deviation column sums to the L1 distance from Benford.

    Exactness: the first digit comes from the decimal STRING of exact
    integer cents — both engines render a BIGINT identically, where a
    float log10/pow route would reintroduce libm. Shape: map-side
    digit extraction, one 9-row hash aggregate, broadcast total —
    scan-bound at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = cut(
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    total = counts.agg(F.sum("n_orders").cast("bigint").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("1000 * n_orders div tot").alias("observed_permille"),
            F.expr(_BENFORD_CASE).cast("bigint").alias("benford_permille"),
            F.expr(
                f"abs(1000 * n_orders div tot - ({_BENFORD_CASE}))"
            ).cast("bigint").alias("deviation_permille"),
        )
    )


_BENFORD_SQL = f"""
    WITH counts AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM counts)
    SELECT digit, n_orders,
           (1000 * n_orders) // tot AS observed_permille,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_permille,
           CAST(abs((1000 * n_orders) // tot - ({_BENFORD_CASE}))
                AS BIGINT) AS deviation_permille
    FROM counts CROSS JOIN t
"""


_KMV_K = 256  # sketch size; rsd ≈ 1/√k ≈ 6%


def _kmv_estimate_exprs() -> tuple[str, str]:
    """Shared (estimate, error) expression texts over the sketch row
    columns (kth_hex, k_seen, true_distinct) — one constructor serves
    the batch query, its oracle, AND the streamed fold
    (`streaming.stream_kmv_distinct`), so the three cannot drift."""
    from ..functions import hex_to_bigint_sql

    kth_int = hex_to_bigint_sql("kth_hex")
    est = (
        f"CAST(floor((CAST(k_seen - 1 AS DOUBLE) * 1.152921504606846976e18)"
        f" / CAST({kth_int} AS DOUBLE)) AS BIGINT)"
    )
    err = "abs(est_distinct - true_distinct) * 1000 div true_distinct"
    return est, err


def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch WITH ITS OWN ACCURACY
    ROW — the fully VALUE-ORACLED approximate-distinct (HLL++ stays
    rows-only because its register hashing can't replay in DuckDB;
    KMV's can): hash every user to a 60-bit value (15-hex sha256
    slice), keep the k smallest, estimate n ≈ (k−1)·2⁶⁰ / h₍ₖ₎. The
    sketch is mergeable (union = k smallest of the concatenation —
    same algebra as the theta/HLL union rollups), and every number in
    the output is deterministic: hex slices order as their integer
    value, the single division is correctly-rounded IEEE on exact
    int64 inputs, and the driver hash checks est AND the realized
    error against DuckDB bit-for-bit.

    Shape: one distinct-hash aggregate (map-side combined, 32-byte
    keys), then TakeOrderedAndProject k rows (per-partition heaps +
    driver merge — never a global sort) and a broadcast of the 1-row
    exact count; at 100 TB the distinct pass is the same shuffle the
    exact count needs, and the k-row sketch is what you'd persist."""
    from ..functions import hex_to_bigint_sql

    events = load_table(spark, sf_dir, "events")
    hashes = cut(
        events.where(F.col("user_id").isNotNull())  # NULLs sort FIRST on
        # Spark / LAST on DuckDB and must never occupy a sketch slot —
        # same filter as the streamed fold's merge_kmin
        .select(
            F.substring(F.sha2(F.col("user_id").cast("string"), 256), 1, 15).alias(
                "h"
            )
        )
        .distinct()
        # feeds the top-k AND the exact count
    )
    kth = (
        hashes.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("kth_hex"), F.count(F.lit(1)).alias("k_seen"))
    )
    exact = hashes.agg(F.count(F.lit(1)).cast("bigint").alias("true_distinct"))
    est, err = _kmv_estimate_exprs()
    return (
        kth.crossJoin(F.broadcast(exact))
        .withColumn("est_distinct", F.expr(est))
        .select(
            F.col("k_seen").cast("bigint").alias("k"),
            "kth_hex",
            "est_distinct",
            "true_distinct",
            F.expr(err).alias("err_permille"),
        )
    )


def _kmv_sql() -> str:
    # SAME constructor as the Spark side and the streamed fold — the
    # only engine delta is integer division spelling (div vs //).
    est, err = _kmv_estimate_exprs()
    err = err.replace(" div ", " // ")
    return f"""
    WITH hashes AS (
        SELECT DISTINCT substr(sha256(CAST(user_id AS VARCHAR)), 1, 15) AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    kth AS (
        SELECT max(h) AS kth_hex, count(*) AS k_seen
        FROM (SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K})
    ),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS true_distinct FROM hashes),
    est AS (
        SELECT CAST(k_seen AS BIGINT) AS k, kth_hex, {est} AS est_distinct,
               true_distinct
        FROM kth CROSS JOIN exact
    )
    SELECT k, kth_hex, est_distinct, true_distinct,
           {err} AS err_permille
    FROM est
"""


_KMV_SQL = _kmv_sql()


_BASKET_TOP_N = 20


def frequent_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-basket mining at the COMPOSITION grain: the
    top-{n} complete baskets (sorted part-key arrays) by how many
    orders bought exactly that combination — the itemset-level
    complement of `part_affinity_lift`'s pairwise scores, and the
    engine's demonstration of ARRAY-VALUED grouping keys (the basket
    array itself is the groupBy key; both engines hash and compare
    arrays element-wise, and `sort_array` makes the key canonical so
    permuted line orders collapse).

    Determinism: collect_list is order-nondeterministic under shuffle —
    ``sort_array`` canonicalizes BEFORE the array becomes a key or an
    output value (the dropDuplicates survivor rule, applied to
    arrays); the top-{n} cutoff totals on (count desc, basket asc).
    The OUTPUT projects the basket as a canonical comma-joined STRING
    (arrays are kept as the internal grouping key only): downstream
    hash-comparators canonicalize rows with hashable scalars, and the
    tie-break at the LIMIT boundary must use the SAME collation in
    both engines — array-lexicographic and string-lexicographic order
    disagree (e.g. [2] sorts before [10] as an array but after "10"
    as a string), so both engines order on the string form. Scale:
    two shuffles (order key, then basket key — baskets are small
    arrays) and a TakeOrderedAndProject."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("basket_arr")
    )
    return (
        baskets.groupBy("basket_arr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .select(
            F.array_join(
                F.col("basket_arr").cast("array<string>"), ","
            ).alias("basket"),
            "n_orders",
        )
        .orderBy(F.desc("n_orders"), "basket")
        .limit(_BASKET_TOP_N)
    )


frequent_baskets.__doc__ = frequent_baskets.__doc__.format(n=_BASKET_TOP_N)


_BASKETS_SQL = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS (
        SELECT l_orderkey, list_sort(list(l_partkey)) AS basket_arr
        FROM li GROUP BY l_orderkey
    ),
    g AS (
        SELECT array_to_string(basket_arr, ',') AS basket,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM b
        GROUP BY basket_arr
    )
    SELECT basket, n_orders
    FROM g
    ORDER BY n_orders DESC, basket
    LIMIT {_BASKET_TOP_N}
"""


#: Price brackets in exact cents: [lo, hi) half-open, contiguous, so
#: every part lands in exactly one bracket.
_PRICE_BRACKETS = (
    (0, 92_500, "budget"),
    (92_500, 95_000, "mid"),
    (95_000, 97_500, "premium"),
    (97_500, 10**9, "luxury"),
)


def price_bracket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-dimension lookup — the tax-bracket/tier-table join shape:
    each part joins the bracket whose [lo, hi) cents interval contains
    its price, then rolls up per tier. The physical strategy matters
    more than the logic: a range predicate has no equi-key, so Spark
    MUST plan BroadcastNestedLoopJoin — which is exactly right when
    the range dim is tiny (every fact row probes an in-memory 4-row
    table; cost is one scan), and catastrophic if the dim were big
    (the plan audit's no-CartesianProduct rule still holds — BNLJ with
    a broadcast side and a join condition is the sanctioned form).
    At 100 TB the alternative for a LARGE range dim is binning both
    sides to an equi-key (`purchase_prior_clicks`' bucketed band
    join); for a literal tier table, broadcast-probe wins.

    Exactness: bracket bounds and membership are integer cents;
    half-open contiguous intervals make membership total and unique."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    brackets = local_df(
        spark, list(_PRICE_BRACKETS), "lo bigint, hi bigint, tier string"
    )
    joined = parts.join(
        F.broadcast(brackets),
        (F.col("cents") >= F.col("lo")) & (F.col("cents") < F.col("hi")),
        "inner",
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
    )


def _bracket_sql() -> str:
    rows = ", ".join(f"({lo}, {hi}, '{t}')" for lo, hi, t in _PRICE_BRACKETS)
    return f"""
    WITH brackets(lo, hi, tier) AS (VALUES {rows}),
    p AS (SELECT p_partkey,
                 CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
          FROM part)
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM p JOIN brackets ON p.cents >= brackets.lo AND p.cents < brackets.hi
    GROUP BY tier
"""


_BRACKET_SQL = _bracket_sql()


#: Pointwise-MI ratio p(x,y)/(p(x)p(y)) = n_xy·tot / (n_x·n_y), as
#: deterministic double arithmetic over exact int64 counts.
_MI_ARG = (
    "((CAST(n_xy AS DOUBLE) * CAST(tot AS DOUBLE))"
    " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))"
)
#: weekday 0=Mon..6=Sun from pure integer epoch arithmetic —
#: 1970-01-01 was a Thursday, so (+3) mod 7 lands Monday on 0. Both
#: engines' dayofweek()/date_part('dow') disagree on the week origin;
#: integer µs division does not.
_WEEKDAY_SPARK = "(unix_micros(ts) div 86400000000 + 3) % 7"
_WEEKDAY_DUCK = "(epoch_us(ts) // 86400000000 + 3) % 7"


def event_weekday_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and weekday — the
    feature-screening statistic that says whether a categorical pair
    carries signal before a model ever trains (MI ≈ 0 ⇒ the features
    are independent; rows are the pointwise terms, Σ mi_micro = corpus
    MI × 1e6). Each cell's term p(x,y)·ln(p(x,y)/(p(x)p(y))) is
    micro-floor-quantized through the portable ln, so the table is
    bit-identical cross-engine.

    Shape: ONE conditional hash aggregate on the (type, weekday) cell
    key (≤ |types|·7 rows leave any partition), marginals re-aggregated
    from the checkpointed cell table, two tiny broadcast joins, narrow
    projection. Weekday comes from integer epoch-µs arithmetic — the
    engines' native dayofweek functions disagree on the week origin."""
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    events = load_table(spark, sf_dir, "events")
    cells = cut(
        events.select(
            "event_type", F.expr(_WEEKDAY_SPARK).cast("int").alias("weekday")
        )
        .groupBy("event_type", "weekday")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    )
    mx = cells.groupBy("event_type").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = cells.groupBy("weekday").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("bigint").alias("tot"))
    term = (
        "CAST(floor((CAST(n_xy AS DOUBLE) / CAST(tot AS DOUBLE))"
        f" * {{ln}} * 1.0e6) AS BIGINT)"
    )
    from ..functions import ln_from_kz_sql

    term = term.format(ln=ln_from_kz_sql("__ln_k", "__ln_z"))
    return (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "weekday")
        .crossJoin(F.broadcast(tot))
        .withColumn("__ln_k", F.expr(ln_k_sql(_MI_ARG)))
        .withColumn("__ln_m", F.expr(ln_m_sql(_MI_ARG, "__ln_k")))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .select(
            "event_type",
            "weekday",
            "n_xy",
            F.expr(term).alias("mi_micro"),
        )
    )


def _mi_sql() -> str:
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    term = (
        "CAST(floor((CAST(n_xy AS DOUBLE) / CAST(tot AS DOUBLE))"
        f" * {ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6) AS BIGINT)"
    )
    return f"""
    WITH cells AS (
        SELECT event_type,
               CAST({_WEEKDAY_DUCK} AS INTEGER) AS weekday,
               CAST(count(*) AS BIGINT) AS n_xy
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x
           FROM cells GROUP BY event_type),
    my AS (SELECT weekday, CAST(sum(n_xy) AS BIGINT) AS n_y
           FROM cells GROUP BY weekday),
    t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS tot FROM cells),
    s1 AS (SELECT cells.*, n_x, n_y, tot, {ln_k_sql(_MI_ARG)} AS __ln_k
           FROM cells JOIN mx USING (event_type) JOIN my USING (weekday)
           CROSS JOIN t),
    s2 AS (SELECT *, {ln_m_sql(_MI_ARG, "__ln_k")} AS __ln_m FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2)
    SELECT event_type, weekday, n_xy, {term} AS mi_micro
    FROM s3
"""


_MI_SQL = _mi_sql()


def brand_size_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between part size and retail
    price — the feature-vs-feature screening statistic of an ML prep
    pass, computed the CROSS-ENGINE-DETERMINISTIC way. Spark's own
    ``F.corr`` accumulates doubles in partition order, so its last bits
    are nondeterministic and un-oracle-able; here every sum (Σx, Σy,
    Σx², Σy², Σxy over integer size and floor-cents price) is EXACT
    int64, and floats enter only in the final per-group scalar ops —
    int64→double conversion, sqrt, multiply, divide — all of which
    IEEE 754 requires to be correctly rounded, so both engines produce
    bit-identical doubles from bit-identical integer inputs (the
    repo's exactness rule: exact integer core, deterministic float
    shell; unlike exp/ln there is no libm variance in sqrt).

    corr = (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²ᵗᵒᵗ) · √(n·Σy²−Σy²ᵗᵒᵗ)),
    NULL when either marginal is degenerate (constant column).

    Scale: one map-side-combined hash aggregate on the brand key — the
    five sums travel as one partial row per (partition, brand); no
    second pass, no window. Int64 headroom: n·Σy² ≤ n²·max_cents²
    ≈ 2.6e18 at sf1; a 100 TB run promotes the five sums to
    DECIMAL(38,0) — same plan shape."""
    part = load_table(spark, sf_dir, "part")
    g = (
        part.select(
            "p_brand",
            F.col("p_size").cast("bigint").alias("x"),
            F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("y"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    return g.select(
        "p_brand",
        F.col("n").alias("n_parts"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_numer"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0d)"
        ).alias("corr"),
    )


_BRAND_CORR_SQL = """
    WITH g AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM (SELECT p_brand,
                     CAST(p_size AS BIGINT) AS x,
                     CAST(floor(p_retailprice * 100) AS BIGINT) AS y
              FROM part)
        GROUP BY p_brand
    )
    SELECT p_brand, n AS n_parts,
           n * sxy - sx * sy AS cov_numer,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
               AS corr
    FROM g
"""


_RFM_RANGES = 16  # range partitions for the stacked three-metric rank


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic sales-analytics customer grid:
    quintile-score every customer on Recency (days since last order),
    Frequency (order count) and Monetary (lifetime cents), then report
    the populated (r_q, f_q, m_q) cells with their headcount and
    revenue. Quintiles ascend with the RAW metric (r_q=1 ⇒ most
    recent; f_q=5 / m_q=5 ⇒ top buyers), ties broken by custkey —
    fully deterministic on both engines.

    The exact global rank behind each quintile is the house two-phase
    distributed prefix count ([[supplier_revenue_gini]] /
    `token_budget_shards`): range-repartition, per-partition
    row_number, triangular-join offsets — zero single-partition
    WindowExec. The trick here: all THREE metrics rank in ONE stacked
    pass — explode each customer into (metric, value) rows, range-
    partition by (metric, value, custkey) so each metric's rows are
    contiguous, count per (metric, pid), and offset within metric only.
    One ranking machine, three global sorts' worth of answers.
    Quintile boundaries use the exact integer formula
    ``(rank−1)·5 div n + 1`` (NOT ntile, whose uneven-group convention
    differs) — replayed verbatim in SQL. Output is ≤125 cells."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    maxd = orders.agg(F.max("od").alias("mx"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("money_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("mx", "last_od").cast("bigint").alias("r_days"),
            "freq",
            "money_cents",
        )
    )
    n_row = per_cust.agg(F.count(F.lit(1)).alias("n"))
    stacked = per_cust.select(
        "o_custkey",
        F.explode(
            F.create_map(
                F.lit("r"), F.col("r_days"),
                F.lit("f"), F.col("freq"),
                F.lit("m"), F.col("money_cents"),
            )
        ).alias("metric", "value"),
    )
    # The eager cut pins the (pid, row) layout: rank and count
    # branches must see the SAME sampled range split (the gini trap).
    ranged = cut(
        stacked.repartitionByRange(_RFM_RANGES, "metric", "value", "o_custkey")
        .withColumn("pid", F.spark_partition_id())
    )
    counts = ranged.groupBy("metric", "pid").agg(
        F.count(F.lit(1)).alias("pcnt")
    )
    offsets = (
        counts.alias("a")
        .join(
            counts.alias("b"),
            (F.col("b.metric") == F.col("a.metric"))
            & (F.col("b.pid") < F.col("a.pid")),
            "left",
        )
        .groupBy(F.col("a.metric").alias("metric"), F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.pcnt"), F.lit(0)).alias("offset"))
    )
    local_rank = F.row_number().over(
        Window.partitionBy("pid", "metric").orderBy("value", "o_custkey")
    )
    quintiles = (
        ranged.withColumn("local_rank", local_rank)
        .join(F.broadcast(offsets), ["metric", "pid"])
        .crossJoin(F.broadcast(n_row))
        .select(
            "o_custkey",
            "metric",
            F.expr("((offset + local_rank - 1) * 5) div n + 1").alias("q"),
        )
    )
    scored = quintiles.groupBy("o_custkey").agg(
        F.max(F.when(F.col("metric") == "r", F.col("q"))).alias("r_q"),
        F.max(F.when(F.col("metric") == "f", F.col("q"))).alias("f_q"),
        F.max(F.when(F.col("metric") == "m", F.col("q"))).alias("m_q"),
    )
    return (
        scored.join(per_cust, "o_custkey")
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("money_cents").alias("cell_money_cents"),
        )
    )


_RFM_SQL = """
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    maxd AS (SELECT max(od) AS mx FROM o),
    per_cust AS (
        SELECT o_custkey,
               CAST(datediff('day', max(od), (SELECT mx FROM maxd))
                    AS BIGINT) AS r_days,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(cents) AS BIGINT) AS money_cents
        FROM o GROUP BY o_custkey
    ),
    n AS (SELECT count(*) AS n FROM per_cust),
    q AS (
        SELECT o_custkey,
               ((row_number() OVER (ORDER BY r_days, o_custkey) - 1) * 5)
                   // (SELECT n FROM n) + 1 AS r_q,
               ((row_number() OVER (ORDER BY freq, o_custkey) - 1) * 5)
                   // (SELECT n FROM n) + 1 AS f_q,
               ((row_number() OVER (ORDER BY money_cents, o_custkey) - 1) * 5)
                   // (SELECT n FROM n) + 1 AS m_q,
               money_cents
        FROM per_cust
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(money_cents) AS BIGINT) AS cell_money_cents
    FROM q GROUP BY r_q, f_q, m_q
"""


_CUSUM_RANGES = 16  # range partitions for the day-grain prefix sums


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection over the daily order series — the
    level-shift screen behind volume-drop alerts and regime-change
    audits: with daily counts x_1..x_n (calendar order), the CUSUM
    statistic C_k = Σ_{i≤k}(x_i − x̄) peaks at the most likely
    changepoint. Cross-multiplied by n it is PURE INTEGER —
    D_k = n·S_k − k·S_n (S_k = prefix sum, k = day rank) — so the
    argmax is bit-stable across engines, partitionings, and float
    regimes (the [[supplier_revenue_gini]] rational-closed-form
    lesson).

    Shape: one map-side-combined hash-agg to day grain, then BOTH
    prefix quantities (rank k and prefix sum S_k) from ONE two-phase
    distributed pass — range-repartition by day, local cumsum +
    row_number per partition, triangular-join offsets for the
    per-partition count AND sum totals — zero single-partition
    WindowExec. The argmax is a broadcast 1-row max joined back
    (ties all surface, deterministically). Day grain is bounded by the
    calendar, but the discipline means the same plan works at event
    grain too."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    ranged = cut(
        daily.repartitionByRange(_CUSUM_RANGES, "day")
        .withColumn("pid", F.spark_partition_id())
    )
    ptot = ranged.groupBy("pid").agg(
        F.count(F.lit(1)).alias("pcnt"), F.sum("x").alias("psum")
    )
    offsets = (
        ptot.alias("a")
        .join(ptot.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(
            F.coalesce(F.sum("b.pcnt"), F.lit(0)).alias("k_off"),
            F.coalesce(F.sum("b.psum"), F.lit(0)).alias("s_off"),
        )
    )
    w = Window.partitionBy("pid").orderBy("day")
    totals = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sn")
    )
    scored = (
        ranged.withColumn("lk", F.row_number().over(w))
        .withColumn("ls", F.sum("x").over(w))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(totals))
        .select(
            "day",
            "x",
            F.expr("n * (s_off + ls) - (k_off + lk) * sn").alias("d_scaled"),
        )
        .withColumn("abs_d", F.abs("d_scaled"))
    )
    peak = scored.agg(F.max("abs_d").alias("peak"))
    return (
        scored.crossJoin(F.broadcast(peak))
        .where(F.col("abs_d") == F.col("peak"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("x").cast("bigint").alias("day_orders"),
            F.col("d_scaled").cast("bigint").alias("cusum_scaled"),
        )
    )


_CUSUM_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, sum(x) AS sn FROM daily),
    pref AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) AS k,
               sum(x) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS sk
        FROM daily
    ),
    scored AS (
        SELECT day, x,
               (SELECT n FROM tot) * sk - k * (SELECT sn FROM tot)
                   AS d_scaled
        FROM pref
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           x AS day_orders,
           CAST(d_scaled AS BIGINT) AS cusum_scaled
    FROM scored
    WHERE abs(d_scaled) = (SELECT max(abs(d_scaled)) FROM scored)
"""


_AUTOCORR_LAGS = (1, 7)  # adjacent-day and weekly seasonality


def seasonality_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged AUTOCORRELATION of the daily order series — the
    seasonality screen run before choosing forecast features: Pearson r
    between day t and day t+lag for lag ∈ {1, 7} (adjacent-day
    momentum vs weekly cycle). Pairs come from a DATE-ARITHMETIC
    EQUI-JOIN (b.day = a.day + lag) — gap days drop out of the pair
    set, exactly right for sparse calendars, and the join is hash not
    range. All Pearson components accumulate as exact BIGINTs from
    day-grain counts ([[brand_size_price_corr]] convention); the final
    r divides through correctly-rounded IEEE sqrt — portable because
    sqrt is a BASIC op, unlike the banned libm pow/ln.

    Shape per lag: one map-side-combined hash-agg to day grain (shared
    via cut), one self equi-join on the shifted key, one
    scalar aggregate. Day grain is calendar-bounded; nothing here grows
    with row count."""
    orders = load_table(spark, sf_dir, "orders")
    daily = cut(
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    out = None
    for lag in _AUTOCORR_LAGS:
        b = daily.select(
            F.col("day").alias("bday"), F.col("x").alias("y")
        )
        pairs = daily.join(b, F.date_add("day", lag) == F.col("bday"))
        g = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        ).select(
            F.lit(lag).cast("bigint").alias("lag_days"),
            F.col("n").alias("n_pairs"),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "cov_numer"
            ),
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0d)"
            ).alias("autocorr"),
        )
        out = g if out is None else out.unionByName(g)
    return out


def _autocorr_sql() -> str:
    legs = []
    for lag in _AUTOCORR_LAGS:
        legs.append(
            f"""
    SELECT CAST({lag} AS BIGINT) AS lag_days,
           n AS n_pairs,
           n * sxy - sx * sy AS cov_numer,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
               AS autocorr
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.x) AS BIGINT) AS sx,
               CAST(sum(b.x) AS BIGINT) AS sy,
               CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
               CAST(sum(b.x * b.x) AS BIGINT) AS syy,
               CAST(sum(a.x * b.x) AS BIGINT) AS sxy
        FROM daily a JOIN daily b ON b.day = a.day + {lag}
    )"""
        )
    union = "\n    UNION ALL".join(legs)
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    )
    {union}
"""


#: Wilson 95% lower bound as SHARED SQL TEXT — every op is IEEE-basic
#: (+ − × ÷ sqrt, all correctly rounded) and the text is identical on
#: both engines, so the double is bit-identical and the final permille
#: floor cannot flip. p and n are bound by the caller's columns.
_WILSON_LO_SQL = (
    "((p + 1.9208e0 / n"
    " - 1.96e0 * sqrt((p * (1.0e0 - p) + 0.9604e0 / n) / n))"
    " / (1.0e0 + 3.8416e0 / n))"
)


def return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate ranking by the WILSON 95% LOWER BOUND — the correct
    way to rank brands by a proportion when group sizes differ wildly
    (the Evan Miller "don't sort by average rating" fix): a brand with
    2/3 returns must NOT outrank one with 180/1000, and the lower
    confidence bound encodes exactly that. The bound is pure IEEE-basic
    arithmetic (one divide for p̂, the shared-text formula above — z² =
    3.8416 etc. pre-folded as exact literals), so even though the
    output is a float-derived permille, both engines floor the SAME
    double. One lineitem→part join (broadcast dim), one brand
    aggregate; output |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_returnflag") == "R").cast("bigint").alias("ret")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("ret").alias("n_returned"),
        )
    )
    return (
        g.withColumn("n", F.expr("CAST(n_lines AS DOUBLE)"))
        .withColumn(
            "p", F.expr("CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)")
        )
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            F.expr("(1000 * n_returned) div n_lines").alias("rate_permille"),
            F.expr(f"CAST(floor({_WILSON_LO_SQL} * 1.0e3) AS BIGINT)").alias(
                "wilson_lo_permille"
            ),
        )
    )


_WILSON_SQL = f"""
    WITH g AS (
        SELECT p.p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ),
    staged AS (
        SELECT *, CAST(n_lines AS DOUBLE) AS n,
               CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p
        FROM g
    )
    SELECT p_brand, n_lines, n_returned,
           (1000 * n_returned) // n_lines AS rate_permille,
           CAST(floor({_WILSON_LO_SQL} * 1.0e3) AS BIGINT)
               AS wilson_lo_permille
    FROM staged
"""


_AUC_RANGES = 16
_AUC_POS = ("1-URGENT", "2-HIGH")


def order_priority_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed AUC (Mann-Whitney U with midrank ties) per
    order status: how well does order value separate urgent/high
    priority orders from the rest — the canonical offline-eval metric
    for any ranking model (quality classifiers, dedup scorers), shown
    here on a closed label so the oracle is exact.

    AUC needs a GLOBAL rank per group — the classic 100 TB trap is
    ``Window.orderBy(score)`` with no partition (one-task sort). This
    plan never ranks rows at all:

    1. Aggregate to the (status, score)-VALUE grain — one hash-agg
       shuffle; |distinct scores| rows, ties collapse.
    2. Two-phase prefix count over score order WITHIN each status:
       range-repartition the value-grain rows, local cumulative count
       per (status, pid) partition-window, per-(status, pid) totals +
       triangular offset join (same idiom as
       ``supplier_revenue_gini`` / ``mlprep._prefix_offsets``) — no
       single-partition WindowExec anywhere.
    3. Midrank identity, all BIGINT: 2·R⁺ = Σ_v pos(v)·(2·below(v) +
       cnt(v) + 1); 2U = 2·R⁺ − n⁺(n⁺+1); auc_micros = 10⁶·2U div
       (2·n⁺·n⁻) — exact while 10⁶·2·n⁺·n⁻ < 2⁶³ (n ≲ 2·10⁶ per
       group; past that, grain the metric per day/segment and average,
       or accept the 1-ulp double path — documented, not silent).

    The eager cut pins the sampled range boundaries so the
    cumsum branch and the totals branch see the SAME pid layout (the
    ``token_budget_shards`` lesson — correctness must not ride on
    ReusedExchange).
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("score"),
        F.col("o_orderpriority").isin(*_AUC_POS).cast("bigint").alias("pos"),
    )
    vg = base.groupBy("o_orderstatus", "score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("pos")
    )
    ranged = cut(
        vg.repartitionByRange(_AUC_RANGES, "o_orderstatus", "score")
        .withColumn("pid", F.spark_partition_id())
    )
    local_below = F.coalesce(
        F.sum("cnt").over(
            Window.partitionBy("o_orderstatus", "pid")
            .orderBy("score")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    staged = ranged.withColumn("local_below", local_below)
    totals = ranged.groupBy("o_orderstatus", "pid").agg(
        F.sum("cnt").alias("ptot")
    )
    offsets = (
        totals.alias("a")
        .join(
            totals.alias("b"),
            (F.col("b.o_orderstatus") == F.col("a.o_orderstatus"))
            & (F.col("b.pid") < F.col("a.pid")),
            "left",
        )
        .groupBy(
            F.col("a.o_orderstatus").alias("o_orderstatus"),
            F.col("a.pid").alias("pid"),
        )
        .agg(F.coalesce(F.sum("b.ptot"), F.lit(0)).alias("offset"))
    )
    ranked = staged.join(F.broadcast(offsets), ["o_orderstatus", "pid"]).select(
        "o_orderstatus",
        "cnt",
        "pos",
        (F.col("offset") + F.col("local_below")).alias("below"),
    )
    agg = ranked.groupBy("o_orderstatus").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
        F.sum(
            F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1)
        ).alias("r2"),
    )
    return agg.select(
        "o_orderstatus",
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos * n_neg = 0 THEN NULL"
            " ELSE (1000000 * (r2 - n_pos * (n_pos + 1)))"
            "      div (2 * n_pos * n_neg) END"
        ).alias("auc_micros"),
    )


_AUC_SQL = f"""
    WITH base AS (
        SELECT o_orderstatus,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS pos
        FROM orders
    ),
    vg AS (
        SELECT o_orderstatus, score,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS pos
        FROM base GROUP BY 1, 2
    ),
    r AS (
        SELECT *,
               CAST(coalesce(sum(cnt) OVER (
                   PARTITION BY o_orderstatus ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS below
        FROM vg
    ),
    agg AS (
        SELECT o_orderstatus,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
               CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT) AS r2
        FROM r GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_pos, n_neg,
           CASE WHEN n_pos * n_neg = 0 THEN NULL
                ELSE (1000000 * (r2 - n_pos * (n_pos + 1)))
                     // (2 * n_pos * n_neg) END AS auc_micros
    FROM agg
"""


_LIFT_BIN_CENTS = 5_000_000  # $50k fixed-width score bins


def priority_lift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-style lift/calibration table on FIXED-WIDTH score bins:
    per $50k order-value bin, the observed urgent/high-priority rate
    and its lift vs the global base rate — the reliability-diagram
    companion to ``order_priority_auc`` (AUC says "ranks well"; the
    lift table says WHERE the signal concentrates).

    Fixed-width bins instead of quantile bins on purpose: quantile
    edges need a global rank (or an approx sketch whose edges drift
    per run); integer ``div`` bins are deterministic, shuffle once,
    and the oracle is exact. Plan: one hash agg to the bin grain, one
    1-row global aggregate attached via broadcast cross join (scalar
    attach idiom), all-BIGINT lift arithmetic:
    lift_permille = (1000·pos_bin·N) div (n_bin·POS)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        # Integer `div` by construction (r9 advice): float `/` +
        # cast-truncation was only incidentally equivalent (non-negative
        # prices, quotients far from double rounding edges); `div`
        # matches the oracle's `//` exactly with no precondition.
        F.expr(f"floor(o_totalprice * 100) div {_LIFT_BIN_CENTS}").alias(
            "bin_id"
        ),
        F.col("o_orderpriority").isin(*_AUC_POS).cast("bigint").alias("pos"),
    )
    bins = base.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("pos").alias("n_priority"),
    )
    glob = base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("pos").alias("pos_total"),
    )
    return (
        bins.crossJoin(F.broadcast(glob))
        .select(
            "bin_id",
            (F.col("bin_id") * _LIFT_BIN_CENTS).alias("bin_lo_cents"),
            "n_orders",
            "n_priority",
            F.expr("(1000 * n_priority) div n_orders").alias("rate_permille"),
            # DECIMAL(38,0) for the cross-products (the gini idiom):
            # 1000·n_priority·n_total exceeds int64 around 3e7 orders
            # per bin at a 3e9-order table — far below the claimed
            # scale. `div` on decimals is an exact integer quotient on
            # both engines, so exactness is preserved, not just
            # overflow-safety (r9 advice item 2).
            F.expr(
                "CASE WHEN pos_total = 0 THEN NULL"
                " ELSE CAST((1000 * CAST(n_priority AS DECIMAL(38,0))"
                "            * n_total)"
                "      div (CAST(n_orders AS DECIMAL(38,0)) * pos_total)"
                "      AS BIGINT) END"
            ).alias("lift_permille"),
        )
    )


_LIFT_SQL = f"""
    WITH base AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // {_LIFT_BIN_CENTS}
                   AS bin_id,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS pos
        FROM orders
    ),
    bins AS (
        SELECT bin_id,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(pos) AS BIGINT) AS n_priority
        FROM base GROUP BY bin_id
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(pos) AS BIGINT) AS pos_total
        FROM base
    )
    SELECT bin_id,
           bin_id * {_LIFT_BIN_CENTS} AS bin_lo_cents,
           n_orders, n_priority,
           (1000 * n_priority) // n_orders AS rate_permille,
           CASE WHEN pos_total = 0 THEN NULL
                ELSE CAST((1000 * CAST(n_priority AS HUGEINT) * n_total)
                     // (CAST(n_orders AS HUGEINT) * pos_total)
                     AS BIGINT) END AS lift_permille
    FROM bins, tot
"""


def priority_status_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen between two categoricals
    (o_orderpriority × o_orderstatus): the per-cell contingency table
    with expected counts and χ² contributions — the profiling op that
    decides whether a categorical pair is worth a crossed feature
    (``hashed_feature_crosses``) or carries no signal. Completes the
    dependence toolkit next to ``event_weekday_mi`` (mutual
    information) and ``priority_status_woe`` (directional evidence).

    Emitted PER CELL, not summed: a cross-engine float SUM would tie
    the result to addition order; per-cell contributions are each a
    fixed IEEE-basic expression (x·x, no pow/libm) over exact-integer
    inputs, so both engines floor the same double. expected_milli is
    exact BIGINT: (1000·row_tot·col_tot) div N. Plan: one cell-grain
    hash agg, two tiny margin re-aggs broadcast back — margins derive
    from the cell table, so the raw table shuffles once."""
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("o_orderpriority").agg(
        F.sum("observed").alias("row_tot")
    )
    col_tot = cells.groupBy("o_orderstatus").agg(
        F.sum("observed").alias("col_tot")
    )
    n_tot = cells.agg(F.sum("observed").alias("n_tot"))
    return (
        cells.join(F.broadcast(row_tot), "o_orderpriority")
        .join(F.broadcast(col_tot), "o_orderstatus")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "observed",
            # DECIMAL(38,0) widening (gini idiom): 1000·row_tot·col_tot
            # exceeds int64 once row_tot·col_tot > ~9.2e15 (≈4e8 orders
            # with these margins) — an ANSI ARITHMETIC_OVERFLOW at the
            # claimed scale; the quotient itself stays ≤1000·n_tot and
            # fits BIGINT (r9 advice item 2).
            F.expr(
                "CAST((1000 * CAST(row_tot AS DECIMAL(38,0)) * col_tot)"
                " div n_tot AS BIGINT)"
            ).alias("expected_milli"),
            F.expr(
                "CAST(floor("
                " ((CAST(observed AS DOUBLE)"
                "   - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
                "     / CAST(n_tot AS DOUBLE))"
                "  * (CAST(observed AS DOUBLE)"
                "   - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
                "     / CAST(n_tot AS DOUBLE)))"
                " / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
                "    / CAST(n_tot AS DOUBLE))"
                " * 1.0e6) AS BIGINT)"
            ).alias("chisq_contrib_micros"),
        )
    )


_CHISQ_SQL = """
    WITH cells AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS observed
        FROM orders GROUP BY 1, 2
    ),
    rt AS (
        SELECT o_orderpriority, CAST(sum(observed) AS BIGINT) AS row_tot
        FROM cells GROUP BY 1
    ),
    ct AS (
        SELECT o_orderstatus, CAST(sum(observed) AS BIGINT) AS col_tot
        FROM cells GROUP BY 1
    ),
    nt AS (SELECT CAST(sum(observed) AS BIGINT) AS n_tot FROM cells)
    SELECT c.o_orderpriority, c.o_orderstatus, c.observed,
           CAST((1000 * CAST(rt.row_tot AS HUGEINT) * ct.col_tot)
                // nt.n_tot AS BIGINT) AS expected_milli,
           CAST(floor(
               ((CAST(c.observed AS DOUBLE)
                 - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                   / CAST(nt.n_tot AS DOUBLE))
                * (CAST(c.observed AS DOUBLE)
                 - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                   / CAST(nt.n_tot AS DOUBLE)))
               / (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                  / CAST(nt.n_tot AS DOUBLE))
               * 1.0e6) AS BIGINT) AS chisq_contrib_micros
    FROM cells c
    JOIN rt USING (o_orderpriority)
    JOIN ct USING (o_orderstatus)
    CROSS JOIN nt
"""


_KS_RANGES = 16  # prefix-sum range partitions (token_budget_shards idiom)


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the order-
    value distributions of urgent/high-priority orders (sample A) and
    the rest (sample B) — the nonparametric whole-distribution drift
    test that completes the comparison toolkit: [[drift_psi]] needs a
    binning choice and misses within-bin shape; [[order_priority_auc]]
    (= Mann-Whitney U) measures stochastic ordering only. KS is the
    max CDF gap — sensitive to ANY distributional difference, binning-
    free, and the classic train-vs-serve feature-drift gate.

    Integer-exact: at each distinct value v (price in exact cents),
    D(v)·n_a·n_b = |cumA(v)·n_b − cumB(v)·n_a| — all-BIGINT cross-
    multiplication (widened to DECIMAL(38,0): the product reaches
    n_a·n_b, past int64 at ~3e9 rows/side), so the max and its argmax
    (smallest value attaining it, a deterministic tie-break) are exact
    on both engines; ks_permille = 1000·max div (n_a·n_b).

    Scale: one hash agg to the distinct-value grain (conditional
    counts for both samples in the same pass), then the running CDFs
    via the two-phase distributed prefix sum (range-repartition on
    value → partition-local window → triangular-join offsets,
    ``mlprep._prefix_offsets``) — never a single-partition global
    window; the final max is a 1-row aggregate."""
    from pyspark.sql.window import Window as W

    from .mlprep import _prefix_offsets

    orders = load_table(spark, sf_dir, "orders")
    vals = (
        orders.select(
            F.expr("floor(o_totalprice * 100)").alias("v_cents"),
            F.col("o_orderpriority").isin(*_AUC_POS).alias("is_a"),
        )
        .groupBy("v_cents")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_b"),
        )
    )
    # Pin the (pid, row) layout — same materialization discipline as
    # token_budget_shards: the window branch and the totals branch must
    # see the SAME sampled range boundaries.
    ranged = cut(
        vals.repartitionByRange(_KS_RANGES, "v_cents")
        .withColumn("pid", F.spark_partition_id())
    )
    w = W.partitionBy("pid").orderBy("v_cents").rowsBetween(
        W.unboundedPreceding, 0
    )
    staged = ranged.withColumn("lc_a", F.sum("cnt_a").over(w)).withColumn(
        "lc_b", F.sum("cnt_b").over(w)
    )
    totals = ranged.groupBy("pid").agg(
        F.sum("cnt_a").alias("pa"), F.sum("cnt_b").alias("pb")
    )
    off_a = _prefix_offsets(totals, "pa").withColumnRenamed("offset", "off_a")
    off_b = _prefix_offsets(totals, "pb").withColumnRenamed("offset", "off_b")
    n = vals.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
    )
    d = (
        staged.join(F.broadcast(off_a), "pid")
        .join(F.broadcast(off_b), "pid")
        .crossJoin(F.broadcast(n))
        .select(
            "v_cents",
            "n_a",
            "n_b",
            F.expr(
                "abs(CAST(off_a + lc_a AS DECIMAL(38,0)) * n_b"
                " - CAST(off_b + lc_b AS DECIMAL(38,0)) * n_a)"
            ).alias("d_num"),
        )
    )
    # Output d_num_max as BIGINT: ≤ n_a·n_b, which fits int64 up to
    # ~3e9 rows per side — the DECIMAL widening above is what keeps the
    # INTERMEDIATE cross-products ANSI-safe; min_by(v, struct(-d, v))
    # picks the smallest value attaining the max gap (deterministic).
    return d.groupBy("n_a", "n_b").agg(
        F.expr("CAST(max(d_num) AS BIGINT)").alias("d_num_max"),
        F.expr(
            "CAST(min_by(v_cents, struct(-d_num, v_cents)) AS BIGINT)"
        ).alias("d_at_cents"),
        F.expr(
            "CAST(1000 * max(d_num) div (CAST(max(n_a) AS DECIMAL(38,0))"
            " * max(n_b)) AS BIGINT)"
        ).alias("ks_permille"),
    ).select("n_a", "n_b", "d_num_max", "d_at_cents", "ks_permille")


_KS_SQL = """
    WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v_cents,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        FROM orders GROUP BY 1
    ),
    n AS (
        SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
               CAST(sum(cnt_b) AS BIGINT) AS n_b
        FROM vals
    ),
    cum AS (
        SELECT v_cents,
               sum(cnt_a) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(cnt_b) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM vals
    ),
    d AS (
        SELECT v_cents, n_a, n_b,
               abs(CAST(ca AS HUGEINT) * n_b
                   - CAST(cb AS HUGEINT) * n_a) AS d_num
        FROM cum CROSS JOIN n
    )
    SELECT n_a, n_b,
           CAST(max(d_num) AS BIGINT) AS d_num_max,
           CAST(min(CASE WHEN d_num = (SELECT max(d_num) FROM d)
                    THEN v_cents END) AS BIGINT) AS d_at_cents,
           CAST(1000 * max(d_num)
                // (CAST(max(n_a) AS HUGEINT) * max(n_b)) AS BIGINT)
               AS ks_permille
    FROM d
    GROUP BY n_a, n_b
"""


_TS_RANGES = 16  # prefix-sum range partitions over the slope grain
_TS_EPOCH = "1992-01-01"  # TPC-H calendar origin for the day index


def theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend of daily revenue — the median of all
    pairwise day-to-day slopes, the estimator that shrugs off the
    outlier days that poison [[zipf_fit]]-style OLS (up to 29% gross
    corruption before breakdown). Completes the robust-statistics
    family next to [[robust_price_outliers]]' median+MAD screen.

    Why this is 100 TB-safe despite being O(days²): the pair base is
    the CALENDAR-BOUNDED day grain (TPC-H spans ~2.4k days → ≤ ~3M
    pairs, a constant w.r.t. row count), produced by broadcasting the
    tiny day table against itself; the raw orders table is touched
    exactly once (one date-key hash-agg). The slope median is exact
    and all-integer: slope_milli = (y2−y1)·1000 div (x2−x1) (both
    engines truncate toward zero), collapsed to the (slope, count)
    grain, then the LOWER weighted median via the two-phase
    distributed prefix sum ([[ks_two_sample]]'s `_prefix_offsets`
    idiom — no single-partition window). The 1000× widening runs in
    DECIMAL(38,0); the slope itself stays in int64 while per-day
    revenue < ~9e12 cents (documented bound, [[supplier_revenue_gini]]
    class)."""
    from .mlprep import _prefix_offsets

    orders = load_table(spark, sf_dir, "orders")
    # Cut the tiny day grain AND the slope grain: days fans
    # out three ways (both join sides + the n_days scalar) and slopes
    # two ways (median branch + n_pairs scalar) — and repartitionByRange
    # adds a SAMPLING pass — so without the cuts the orders scan ran 3×
    # and the ~3M-pair broadcast join ~3× (measured 22.9 s at sf0.1;
    # 2.6 s with the cuts).
    days = cut(
        orders.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(_TS_EPOCH).cast("date"))
            .cast("bigint")
            .alias("x")
        )
        .agg(
            F.expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .alias("y")
        )
    )
    a, b = days.alias("a"), days.alias("b")
    # The slopes are ~100% DISTINCT (high-resolution milli-cent values),
    # so a (slope, count) grain collapses nothing — the grain groupBy
    # just shuffled ~3M unique keys (measured 9 s of the original
    # 22.9 s at sf0.1). Select the median on RAW rows instead:
    # range-repartition once, rank = per-partition row_number +
    # per-partition offsets. Still zero single-partition windows; the
    # per-partition sort is bounded by n_pairs/_TS_RANGES.
    slopes = cut(
        a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
        .select(
            # The 1000× widening used to run in DECIMAL(38,0) — measured
            # 8× slower than int64 codegen (1.54 s vs 0.19 s for the
            # pair-pass aggregate at sf0.1). The decomposition
            # (dy·1000) div dx ≡ (dy div dx)·1000 + ((dy%dx)·1000) div dx
            # is an EXACT identity for truncating division (dy = q·dx+r,
            # r signed like dy, |r| < dx ⇒ the q·1000·dx term divides
            # out), and every intermediate fits int64 for ANY int64 dy
            # (|r|·1000 < 2.4e6; q·1000 overflows only if |dy| > 9e15·dx
            # — beyond the documented 9e12-cents/day revenue bound by
            # 1000×·dx). Verified 0 mismatches vs the DECIMAL form on
            # both engines across the sign/edge grid.
            F.expr(
                "((b.y - a.y) div (b.x - a.x)) * 1000"
                " + (((b.y - a.y) % (b.x - a.x)) * 1000) div (b.x - a.x)"
            ).alias("slope_milli")
        )
        .repartitionByRange(_TS_RANGES, "slope_milli")
        .withColumn("pid", F.spark_partition_id())
    )
    w_rn = Window.partitionBy("pid").orderBy("slope_milli")
    totals = slopes.groupBy("pid").agg(F.count(F.lit(1)).alias("pcnt"))
    offsets = _prefix_offsets(totals, "pcnt")
    scalars = days.agg(F.count(F.lit(1)).cast("bigint").alias("n_days")).crossJoin(
        slopes.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return (
        slopes.withColumn("rn", F.row_number().over(w_rn))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(scalars))
        .where(F.col("offset") + F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select("n_days", "n_pairs", F.col("slope_milli").alias("theilsen_slope_milli"))
    )


_THEILSEN_SQL = f"""
    WITH days AS (
        SELECT CAST(date_diff('day', DATE '{_TS_EPOCH}', o_orderdate) AS BIGINT) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT CAST((b.y - a.y)::HUGEINT * 1000 // (b.x - a.x) AS BIGINT)
                   AS slope_milli,
               CAST(count(*) AS BIGINT) AS cnt
        FROM days a JOIN days b ON a.x < b.x
        GROUP BY 1
    ),
    sc AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_days,
               (SELECT CAST(sum(cnt) AS BIGINT) FROM slopes) AS n_pairs
    ),
    cum AS (
        SELECT slope_milli,
               sum(cnt) OVER (ORDER BY slope_milli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM slopes
    )
    SELECT sc.n_days, sc.n_pairs,
           min(CASE WHEN cum.c * 2 >= sc.n_pairs
                    THEN cum.slope_milli END) AS theilsen_slope_milli
    FROM cum, sc
    GROUP BY sc.n_days, sc.n_pairs
"""


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend significance on daily revenue — the
    hypothesis-test companion to [[theilsen_revenue_trend]]'s slope
    magnitude (Theil-Sen says HOW STEEP, Mann-Kendall says whether a
    monotonic trend exists at all): S = Σ_(i<j) sign(y_j − y_i) over
    the same CALENDAR-BOUNDED day-pair base (≤ ~3M pairs at any row
    count), with the textbook tie-corrected variance
    18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) and the ±1 continuity
    correction in the normal approximation.

    Exactness: S and the 18-scaled variance are exact int64 (day grain
    n and tie-group sizes are calendar-bounded, so the n³ products
    stay ~1e13); z enters floats only through the int64→double
    conversion, sqrt, and divide — the correctly-rounded shell of
    [[brand_size_price_corr]]. Plan: the broadcast day self-join feeds
    ONE 1-row aggregate (no median machinery); ties re-aggregate the
    2.4k-row day table."""
    orders = load_table(spark, sf_dir, "orders")
    days = cut(
        orders.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(_TS_EPOCH).cast("date"))
            .cast("bigint")
            .alias("x")
        )
        .agg(
            F.expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .alias("y")
        )
    )
    a, b = days.alias("a"), days.alias("b")
    s_stat = (
        a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = days.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    var18 = (
        days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(
            ties.agg(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                .cast("bigint")
                .alias("tie_term")
            )
        )
        .select(
            "n",
            F.expr("n * (n - 1) * (2 * n + 5) - tie_term").alias("var_x18"),
        )
    )
    return (
        s_stat.crossJoin(F.broadcast(var18))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            "var_x18",
            F.expr(
                "round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
                " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
                " ELSE 0.0 END"
                " / nullif(sqrt(CAST(var_x18 AS DOUBLE) / 18.0), 0.0), 6)"
            ).alias("z_score"),
        )
    )


_MANN_KENDALL_SQL = f"""
    WITH days AS (
        SELECT CAST(date_diff('day', DATE '{_TS_EPOCH}', o_orderdate) AS BIGINT) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM days a JOIN days b ON a.x < b.x
    ),
    v AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
               (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                FROM (SELECT CAST(count(*) AS BIGINT) AS t
                      FROM days GROUP BY y)) AS tie_term
    )
    SELECT v.n AS n_days, s.s_stat,
           CAST(v.n * (v.n - 1) * (2 * v.n + 5) - v.tie_term AS BIGINT) AS var_x18,
           round(CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                      WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                      ELSE 0.0 END
                 / nullif(sqrt(CAST(v.n * (v.n - 1) * (2 * v.n + 5) - v.tie_term
                               AS DOUBLE) / 18.0), 0.0), 6) AS z_score
    FROM s, v
"""


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram CALIBRATION AUDIT with a honest train/test
    protocol — completes the ML-eval family: [[order_priority_auc]]
    says the score RANKS well, [[priority_lift_bins]] says where the
    signal sits, this says whether the predicted PROBABILITIES can be
    trusted. The "model" is the per-bin positive rate learned on the
    TRAIN half (md5(o_orderkey) parity — the engine-portable
    deterministic split, [[train_test_split]]'s idiom); each TEST-half
    bin then compares predicted_permille (train rate) against
    observed_permille (its own rate), with the absolute gap ready to
    fold into ECE. Same fixed-width integer-div bins as
    [[priority_lift_bins]] (quantile edges need a global rank; div
    bins are deterministic and shuffle once).

    Plan: ONE scan → hash agg to the (bin, split) grain (map-side
    combined), self-joined train-vs-test at bin grain (≤ bins rows),
    all-BIGINT permille arithmetic. Bins missing either half drop —
    a prediction with no training support is undefined, not zero."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.expr(f"floor(o_totalprice * 100) div {_LIFT_BIN_CENTS}").alias("bin_id"),
        F.col("o_orderpriority").isin(*_AUC_POS).cast("bigint").alias("pos"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
                *"01234567"
            )
        ).alias("is_train"),
    )
    grain = base.groupBy("bin_id", "is_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    train = grain.where("is_train").select(
        "bin_id",
        F.col("n").alias("n_train"),
        F.expr("(1000 * n_pos) div n").alias("predicted_permille"),
    )
    test = grain.where("NOT is_train").select(
        "bin_id",
        F.col("n").alias("n_test"),
        F.expr("(1000 * n_pos) div n").alias("observed_permille"),
    )
    return train.join(test, "bin_id").select(
        "bin_id",
        "n_train",
        "n_test",
        "predicted_permille",
        "observed_permille",
        F.expr("abs(predicted_permille - observed_permille)").alias("gap_permille"),
    )


_CALIBRATION_SQL = f"""
    WITH base AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // {_LIFT_BIN_CENTS}
                   AS bin_id,
               CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS pos,
               substr(md5(o_orderkey::VARCHAR), 1, 1) IN
                   ('0','1','2','3','4','5','6','7') AS is_train
        FROM orders
    ),
    grain AS (
        SELECT bin_id, is_train,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM base GROUP BY bin_id, is_train
    ),
    train AS (
        SELECT bin_id, n AS n_train, (1000 * n_pos) // n AS predicted_permille
        FROM grain WHERE is_train
    ),
    test AS (
        SELECT bin_id, n AS n_test, (1000 * n_pos) // n AS observed_permille
        FROM grain WHERE NOT is_train
    )
    SELECT bin_id, n_train, n_test, predicted_permille, observed_permille,
           abs(predicted_permille - observed_permille) AS gap_permille
    FROM train JOIN test USING (bin_id)
"""


_PERM_K = 100  # randomization replicates; p-value resolution 10‰
# Size-corrected squared mean gap: D²·H with D = floored micro-unit
# mean difference and H = (nA·nB) div (nA+nB) (the harmonic count that
# makes splits of different sizes comparable). Every product that can
# pass int64 at the claimed scale is widened BEFORE multiplying
# (DECIMAL(38,0) on Spark, HUGEINT on DuckDB — the gini idiom): the
# 10⁶·S products at ~1e14 summed permille, nA·nB at ~1e12 rows/side,
# and D²·H at ~1e16·1e12. `div`/`//` truncate toward zero identically;
# D itself is a micro-unit mean gap ≤ ~1e8, so D² stays in int64 range
# before its own widening. greatest(n, 1) guards the (astronomically
# unlikely) empty pseudo-group.
_PERM_D_SPARK = (
    "((CAST(1000000 AS DECIMAL(38,0)) * s_a) div greatest(n_a, 1)"
    " - (CAST(1000000 AS DECIMAL(38,0)) * s_b) div greatest(n_b, 1))"
)
_PERM_STAT_SPARK = (
    f"CAST({_PERM_D_SPARK} * {_PERM_D_SPARK} AS DECIMAL(38,0))"
    " * ((CAST(n_a AS DECIMAL(38,0)) * n_b) div greatest(n_a + n_b, 1))"
)
_PERM_D_DUCK = (
    "((1000000::HUGEINT * s_a) // greatest(n_a, 1)"
    " - (1000000::HUGEINT * s_b) // greatest(n_b, 1))"
)
_PERM_STAT_DUCK = (
    f"({_PERM_D_DUCK} * {_PERM_D_DUCK})"
    " * ((n_a::HUGEINT * n_b) // greatest(n_a + n_b, 1))"
)


def permutation_test_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZATION TEST for the returned-vs-kept mean-discount gap — the
    resampling-based inference leg of the stats family ([[ks_two_sample]]
    tests the whole distribution, [[priority_status_chisq]] needs a
    χ² reference table; this one builds its OWN null distribution):
    re-split the pooled rows into two pseudo-groups _PERM_K times with
    deterministic hash coins (bit p of each row's single md5 digest —
    the engine-portable randomness idiom, one hash per row for all
    _PERM_K ≤ 128 replicates), compute the size-corrected
    squared mean gap each time, and report how often a random split
    beats the observed one. p_permille = 1000·#{stat_perm ≥ stat_obs}
    div K. Deterministic end to end — both engines replay the same
    coins, means are floored integers, the statistic widens in
    DECIMAL(38,0).

    Shape: one base scan; the ×_PERM_K explode collapses IMMEDIATELY
    into a perm-keyed hash agg (map-side combined → ≤ K rows cross the
    shuffle per partition), so the blowup is CPU, not network — the
    honest cost of resampling inference at scale, linear in K."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE md5 per row, not per (row, perm): the 32-hex digest is 128
    # independent coin bits, and perm p reads bit p via pure integer
    # hex-digit arithmetic (digit div 2^(p mod 4) mod 2 — both engines
    # compute instr/substr/div identically). The per-pair-md5 version
    # measured 20.5 s at sf0.1; reading bits off one digest cuts it to ~4 s. _PERM_K ≤ 128 by construction.
    base = li.where(F.col("l_returnflag").isin("R", "N")).select(
        (F.col("l_returnflag") == "R").alias("is_a"),
        F.expr("CAST(floor(l_discount * 1000) AS BIGINT)").alias("v"),
        F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber")).alias("h"),
    )
    def sums(flag: Column) -> list[Column]:
        return [
            F.sum(F.when(flag, F.col("v")).otherwise(0)).cast("bigint").alias("s_a"),
            F.sum(F.when(flag, 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(~flag, F.col("v")).otherwise(0)).cast("bigint").alias("s_b"),
            F.sum(F.when(~flag, 1).otherwise(0)).cast("bigint").alias("n_b"),
        ]

    obs = base.agg(*sums(F.col("is_a"))).select(
        F.col("n_a").alias("obs_n_a"),
        F.col("n_b").alias("obs_n_b"),
        F.expr(f"CAST({_PERM_D_SPARK} AS BIGINT)").alias("diff_micro_obs"),
        F.expr(_PERM_STAT_SPARK).alias("stat_obs"),
    )
    # Per-row: 32 hex digits decoded ONCE, then all _PERM_K coins as a
    # boolean array from pure integer arithmetic — the explode ships
    # only (perm, coin, v), never the digest (substr-per-(row, perm)
    # measured 2.6× slower at sf0.1). Values are IDENTICAL to the
    # oracle's per-perm substr form — same digits, same arithmetic.
    # The digest parses ONCE per row into two 60-bit BIGINT words
    # (chars 1-15, 16-30); each exploded (row, perm) pair then reads
    # its coin with one shift+mod — a pure-integer SCALAR codegen
    # expression. Measured at sf0.1: 3.4 s vs 8.5 s for substr/instr
    # per pair and ~13 s for a transform()-lambda formulation (HOF
    # lambdas run interpreted at ~30 µs/element — fine per-array,
    # never in a rows×K hot loop). The oracle parses the same words
    # via hex_to_bigint_sql and applies the same shifts.
    words = base.select(
        "v",
        F.expr("CAST(conv(substr(h, 1, 15), 16, 10) AS BIGINT)").alias("w1"),
        F.expr("CAST(conv(substr(h, 16, 15), 16, 10) AS BIGINT)").alias("w2"),
    )
    coin = F.expr(
        "(CASE WHEN perm <= 60 THEN shiftright(w1, CAST(perm - 1 AS INT))"
        " ELSE shiftright(w2, CAST(perm - 61 AS INT)) END) % 2 = 1"
    )
    perms = (
        words.select(
            "v", "w1", "w2",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_K))).alias("perm"),
        )
        .select("perm", "v", coin.alias("pa"))
        .groupBy("perm")
        .agg(*sums(F.col("pa")))
        .select("perm", F.expr(_PERM_STAT_SPARK).alias("stat"))
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .groupBy("obs_n_a", "obs_n_b", "diff_micro_obs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_perms"),
            F.sum(F.when(F.col("stat") >= F.col("stat_obs"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extreme"),
        )
        .select(
            F.col("obs_n_a").alias("n_a"),
            F.col("obs_n_b").alias("n_b"),
            "diff_micro_obs",
            "n_perms",
            "n_extreme",
            F.expr("(1000 * n_extreme) div n_perms").alias("p_permille"),
        )
    )


_HX1 = hex_to_bigint_sql("substr(h, 1, 15)")
_HX2 = hex_to_bigint_sql("substr(h, 16, 15)")

_PERM_TEST_SQL = f"""
    WITH base AS (
        SELECT l_returnflag = 'R' AS is_a,
               CAST(floor(l_discount * 1000) AS BIGINT) AS v,
               md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR) AS h
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    obs AS (
        SELECT CAST(sum(CASE WHEN is_a THEN v ELSE 0 END) AS BIGINT) AS s_a,
               CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN is_a THEN 0 ELSE v END) AS BIGINT) AS s_b,
               CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM base
    ),
    obs_stat AS (
        SELECT n_a AS obs_n_a, n_b AS obs_n_b,
               CAST({_PERM_D_DUCK} AS BIGINT) AS diff_micro_obs,
               {_PERM_STAT_DUCK} AS stat_obs
        FROM obs
    ),
    words AS (
        SELECT v, {_HX1} AS w1, {_HX2} AS w2 FROM base
    ),
    coined AS (
        SELECT p.perm, w.v,
               (CASE WHEN p.perm <= 60 THEN w.w1 >> (p.perm - 1)
                     ELSE w.w2 >> (p.perm - 61) END) % 2 = 1 AS pa
        FROM words w, (SELECT unnest(range(1, {_PERM_K} + 1)) AS perm) p
    ),
    perms AS (
        SELECT perm,
               CAST(sum(CASE WHEN pa THEN v ELSE 0 END) AS BIGINT) AS s_a,
               CAST(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN pa THEN 0 ELSE v END) AS BIGINT) AS s_b,
               CAST(sum(CASE WHEN pa THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM coined
        GROUP BY perm
    ),
    perm_stats AS (
        SELECT perm, {_PERM_STAT_DUCK} AS stat FROM perms
    )
    SELECT o.obs_n_a AS n_a, o.obs_n_b AS n_b, o.diff_micro_obs,
           CAST(count(*) AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN ps.stat >= o.stat_obs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           CAST(1000 * sum(CASE WHEN ps.stat >= o.stat_obs THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS p_permille
    FROM perm_stats ps CROSS JOIN obs_stat o
    GROUP BY o.obs_n_a, o.obs_n_b, o.diff_micro_obs
"""


_SPEAR_RANGES = 16  # prefix-sum range partitions per rank variable


def spearman_balance_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between customer account balance and
    total spend — the monotonic-association screen that [[
    brand_size_price_corr]]'s Pearson misses (Pearson sees only linear
    signal and is outlier-fragile; rank correlation is the robust
    default for skewed monetary columns). Ties get textbook AVERAGE
    ranks, kept exact by working in DOUBLED ranks (2·avg_rank =
    2·cum_before + cnt + 1 — an integer even when the average is a
    half), and centering is EXACT because tie-averaged ranks always
    sum to n(n+1)/2, so the centered doubled rank is rank2 − (n+1),
    an integer with no mean-estimation error. ρ = Σcxcy /
    (√Σcx²·√Σcy²) — exact integer core, correctly-rounded float shell
    (the [[brand_size_price_corr]] exactness class). The three sums
    widen to DECIMAL(38,0)/HUGEINT at aggregation: |Σcxcy| ≤ 4n³
    passes int64 at ~1.3e6 customers (TPC-H sf≈15) and Spark's
    non-ANSI BIGINT sum wraps silently — the widening is free on a
    1-row final aggregate.

    Plan: orders aggregate once to customer grain (map-side combined)
    and LEFT-join to customers (no-order customers rank with spend 0 —
    dropping them would bias the balance marginal); each variable's
    rank table builds at its DISTINCT-VALUE grain via the two-phase
    distributed prefix sum (no single-partition window), then joins
    back on the value key; one 1-row final aggregate."""
    from .mlprep import _prefix_offsets

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("x"),
    )
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .alias("y")
        )
    )
    rows = cust.join(
        spend, cust.c_custkey == spend.o_custkey, "left"
    ).select("x", F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))

    def rank2(col: str) -> DataFrame:
        vals = rows.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        ranged = cut(
            vals.repartitionByRange(_SPEAR_RANGES, col)
            .withColumn("pid", F.spark_partition_id())
        )
        w = (
            Window.partitionBy("pid")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        staged = ranged.withColumn("lc", F.sum("cnt").over(w))
        totals = ranged.groupBy("pid").agg(F.sum("cnt").alias("pcnt"))
        off = _prefix_offsets(totals, "pcnt")
        return staged.join(F.broadcast(off), "pid").select(
            col,
            (
                2 * (F.col("offset") + F.col("lc") - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(f"r2_{col}"),
        )

    n = rows.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        rows.join(rank2("x"), "x")
        .join(rank2("y"), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            (F.col("r2_x") - (F.col("n") + 1)).alias("cx"),
            (F.col("r2_y") - (F.col("n") + 1)).alias("cy"),
        )
    )
    # The three sums widen to DECIMAL(38,0) BEFORE aggregation:
    # |Σcx·cy| grows ~4n³ and passes int64 at ~1.3M customers (TPC-H
    # sf≳15); Spark's non-ANSI BIGINT sum would wrap silently there.
    # DECIMAL(38,0) holds to n≈10¹² rows — effectively unbounded.
    return ranked.groupBy("n").agg(
        F.sum(F.expr("CAST(cx AS DECIMAL(38,0)) * cy")).cast("decimal(38,0)").alias("num"),
        F.expr(
            "round(CAST(sum(CAST(cx AS DECIMAL(38,0)) * cy) AS DOUBLE)"
            " / nullif(sqrt(CAST(sum(CAST(cx AS DECIMAL(38,0)) * cx) AS DOUBLE))"
            " * sqrt(CAST(sum(CAST(cy AS DECIMAL(38,0)) * cy) AS DOUBLE)), 0.0), 6)"
        ).alias("spearman_rho"),
    ).select(F.col("n").alias("n_customers"), "num", "spearman_rho")


_SPEARMAN_SQL = """
    WITH cust AS (
        SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS x
        FROM customer
    ),
    spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    rows_ AS (
        SELECT c.x, CAST(coalesce(s.y, 0) AS BIGINT) AS y
        FROM cust c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
    rx AS (
        SELECT x, 2 * (sum(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
                  + cnt + 1 AS r2_x
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM rows_ GROUP BY x)
    ),
    ry AS (
        SELECT y, 2 * (sum(cnt) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
                  + cnt + 1 AS r2_y
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM rows_ GROUP BY y)
    ),
    centered AS (
        SELECT nn.n,
               CAST(rx.r2_x - (nn.n + 1) AS BIGINT) AS cx,
               CAST(ry.r2_y - (nn.n + 1) AS BIGINT) AS cy
        FROM rows_ r JOIN rx USING (x) JOIN ry USING (y) CROSS JOIN nn
    )
    SELECT n AS n_customers,
           CAST(sum(cx::HUGEINT * cy) AS DECIMAL(38,0)) AS num,
           round(CAST(sum(cx::HUGEINT * cy) AS DOUBLE)
                 / nullif(sqrt(CAST(sum(cx::HUGEINT * cx) AS DOUBLE))
                          * sqrt(CAST(sum(cy::HUGEINT * cy) AS DOUBLE)), 0.0), 6)
               AS spearman_rho
    FROM centered
    GROUP BY n
"""


def hhi_nation_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation —
    the antitrust-grade concentration number next to
    [[supplier_revenue_gini]]'s inequality curve (HHI weights the TOP
    of the distribution: one 50%-share supplier dominates the index
    regardless of the tail). HHI_ppm = Σᵢ shareᵢ²·10⁶ = 10⁶·Σrᵢ² div
    (Σr)² — computed as ONE exact integer division at the end, not a
    per-supplier share rounding (which would accumulate n floor
    errors). Σrᵢ² and (Σr)² widen in DECIMAL(38,0): revenue cents
    squared passes int64 at ~$30M per supplier ([[supplier_revenue_gini]]
    widening class).

    Shape: lineitem → (nation, supplier) revenue (one map-side-combined
    shuffle, supplier joins broadcast-able nation dim), then a nation-
    grain re-aggregate of (Σr², Σr, n) — no window at all."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(
            F.expr(
                "CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,4))), 2) * 100 AS BIGINT)"
            ).alias("r")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return per_supp.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("r").cast("bigint").alias("revenue_cents"),
        F.expr(
            "CAST(1000000 * sum(CAST(r AS DECIMAL(38,0)) * r)"
            " div (CAST(sum(CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " * sum(CAST(r AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("hhi_ppm"),
    )


_HHI_SQL = """
    WITH per_supp AS (
        SELECT n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,4))), 2) * 100 AS BIGINT) AS r
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name, l.l_suppkey
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(r) AS BIGINT) AS revenue_cents,
           CAST(1000000 * sum(r::HUGEINT * r)
                // (sum(r::HUGEINT) * sum(r::HUGEINT)) AS BIGINT) AS hhi_ppm
    FROM per_supp
    GROUP BY n_name
"""


_TRIM_PERMILLE = 100  # two-sided trim fraction (10% per tail)


def trimmed_mean_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided 10%-TRIMMED mean retail price per brand — the robust
    location estimate between the mean (outlier-fragile) and the
    median ([[robust_price_outliers]]; throws away all shape): drop
    the lowest and highest ⌊n·100‰⌋ prices by rank, average the rest —
    exactly, in integer cents with a single final division.

    Rank-range selection, not value thresholds: per brand, the
    cumulative count at the (price, count) grain bounds each distinct
    price's rank span [cum−cnt+1, cum]; a price contributes
    overlap(span, [lo+1, n−lo]) copies to the kept sum, where
    lo = n·_TRIM_PERMILLE div 1000 — so ties straddling the cut
    contribute PARTIALLY, exactly as a per-row rank filter would,
    without materializing per-row ranks. One brand-partitioned window
    over the value grain (bounded by distinct prices per brand), one
    re-aggregate; all-BIGINT."""
    part = load_table(spark, sf_dir, "part")
    grain = part.select(
        "p_brand",
        F.expr("CAST(floor(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
    ).groupBy("p_brand", "price_cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("p_brand")
    staged = (
        grain.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_tot))
        .withColumn("lo", F.expr(f"(n * {_TRIM_PERMILLE}) div 1000"))
        .withColumn(
            "kept",
            F.expr(
                "greatest(0, least(cum, n - lo) - greatest(cum - cnt + 1, lo + 1) + 1)"
            ),
        )
    )
    return staged.groupBy("p_brand").agg(
        F.max("n").alias("n_parts"),
        F.max("lo").alias("n_trimmed_per_tail"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.expr(
            "CAST(sum(CAST(kept AS DECIMAL(38,0)) * price_cents)"
            " div sum(CAST(kept AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("trimmed_mean_cents"),
    )


_TRIMMED_MEAN_SQL = f"""
    WITH grain AS (
        SELECT p_brand,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(count(*) AS BIGINT) AS cnt
        FROM part GROUP BY p_brand, price_cents
    ),
    staged AS (
        SELECT p_brand, price_cents, cnt,
               sum(cnt) OVER (PARTITION BY p_brand ORDER BY price_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY p_brand) AS n
        FROM grain
    ),
    kept AS (
        SELECT p_brand, price_cents, cnt, cum, n,
               (n * {_TRIM_PERMILLE}) // 1000 AS lo,
               greatest(0, least(cum, n - (n * {_TRIM_PERMILLE}) // 1000)
                   - greatest(cum - cnt + 1,
                              (n * {_TRIM_PERMILLE}) // 1000 + 1) + 1) AS kept
        FROM staged
    )
    SELECT p_brand,
           CAST(max(n) AS BIGINT) AS n_parts,
           CAST(max(lo) AS BIGINT) AS n_trimmed_per_tail,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept::HUGEINT * price_cents) // sum(kept::HUGEINT)
                AS BIGINT) AS trimmed_mean_cents
    FROM kept
    GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# classical seasonal decomposition (additive trend/seasonal/remainder)
# ---------------------------------------------------------------------------

_SD_HALF_WIN = 3  # centered moving-average half-width: 7-day trend


def seasonal_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ADDITIVE SEASONAL DECOMPOSITION of the daily revenue
    series — revenue = trend + weekly seasonal + remainder, the
    decomposition behind every ops dashboard's "is this dip seasonal
    or real" call ([[seasonality_autocorr]] detects the period; this
    SEPARATES the components; [[events_daily_anomalies]] flags what the
    remainder leaves). Trend = 7-day centered moving average (partial
    at the series edges — deterministic), seasonal = per-weekday mean
    of the detrended series, remainder = what's left. ALL integer
    cents: the MA and seasonal means use truncating div (portable on
    negative detrended values), so the decomposition is exact
    cross-engine. Weekday comes from epoch-day modulus — never
    ``dayofweek()``, whose origin differs across engines (the
    [[hashed_feature_crosses]] lesson).

    Scale shape: the fact scans ONCE into the day grain (one date-key
    map-side-combined shuffle — the series is calendar-bounded, ~2,400
    rows at ANY corpus size); the centered MA is a ±3-day bounded
    self-join on that bounded series (never a single-partition global
    window); the seasonal pass is a 7-row aggregate joined back."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    daily = cut(
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.round(F.sum("p"), 2) * 100).cast("bigint").alias("rev_cents")
        )
        # the bounded series feeds 3 consumers below
    )
    nbr = daily.select(F.col("d").alias("d2"), F.col("rev_cents").alias("r2"))
    trend = (
        daily.join(
            nbr,
            (F.datediff(F.col("d2"), F.col("d")) >= -_SD_HALF_WIN)
            & (F.datediff(F.col("d2"), F.col("d")) <= _SD_HALF_WIN),
        )
        .groupBy("d", "rev_cents")
        .agg(
            F.expr("CAST(sum(r2) div count(1) AS BIGINT)").alias(
                "trend_cents"
            )
        )
        .withColumn(
            "weekday",
            F.expr(
                "CAST(pmod(datediff(d, DATE '1970-01-01'), 7) AS BIGINT)"
            ),
        )
        .withColumn("detrended", F.col("rev_cents") - F.col("trend_cents"))
    )
    seasonal = trend.groupBy("weekday").agg(
        F.expr("CAST(sum(detrended) div count(1) AS BIGINT)").alias(
            "seasonal_cents"
        )
    )
    return (
        trend.join(F.broadcast(seasonal), "weekday")
        .select(
            F.col("d").alias("order_date"),
            F.col("rev_cents").alias("revenue_cents"),
            "trend_cents",
            "weekday",
            "seasonal_cents",
            (F.col("detrended") - F.col("seasonal_cents"))
            .cast("bigint")
            .alias("remainder_cents"),
        )
        .orderBy("order_date")
    )


_SEASONAL_SQL = f"""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_orderdate
    ),
    trend AS (
        SELECT a.d, a.rev_cents,
               CAST(sum(b.rev_cents) // count(*) AS BIGINT) AS trend_cents
        FROM daily a
        JOIN daily b
          ON date_diff('day', a.d, b.d)
             BETWEEN -{_SD_HALF_WIN} AND {_SD_HALF_WIN}
        GROUP BY a.d, a.rev_cents
    ),
    det AS (
        SELECT d, rev_cents, trend_cents,
               CAST((date_diff('day', DATE '1970-01-01', d) % 7 + 7) % 7
                    AS BIGINT) AS weekday,
               rev_cents - trend_cents AS detrended
        FROM trend
    ),
    seasonal AS (
        SELECT weekday,
               CAST(sum(detrended) // count(*) AS BIGINT) AS seasonal_cents
        FROM det GROUP BY weekday
    )
    SELECT det.d AS order_date, det.rev_cents AS revenue_cents,
           det.trend_cents, det.weekday, seasonal.seasonal_cents,
           CAST(det.detrended - seasonal.seasonal_cents AS BIGINT)
               AS remainder_cents
    FROM det JOIN seasonal USING (weekday)
    ORDER BY order_date
"""


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation-stack pre-period adjustment)
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "1997-01-01"  # pre-period covariate | post-period metric


def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013, "Improving the Sensitivity of Online
    Controlled Experiments") — the pre-period adjustment every modern
    experimentation platform applies before reading an A/B test: with
    X = a unit's PRE-period spend and Y = its in-experiment metric,
    the adjusted metric Y − θ(X − E[X]) with θ = cov(X,Y)/var(X) keeps
    the treatment estimate unbiased while shrinking its variance by a
    factor of (1 − ρ²). This query computes the whole calibration over
    the customer population: exact DECIMAL(38,0) moment sums (cents²
    passes int64 at scale) reduced in ONE map-side-combined aggregate
    row, then θ and the variance-reduction ρ² derived from those exact
    integers — the float ops are the same IEEE expression on both
    engines, so even the derived columns hash-match.

    Scale shape: one customer-key shuffle builds (X, Y) per unit
    (conditional sums split the calendar — no second scan), one 1-row
    global aggregate carries the five moments; nothing else moves."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.col("o_orderdate").alias("d"),
    )
    split = F.lit(_CUPED_SPLIT).cast("date")
    xy = orders.groupBy("o_custkey").agg(
        (F.round(F.coalesce(F.sum(F.when(F.col("d") < split, F.col("p"))),
                            F.lit(0)), 2) * 100)
        .cast("bigint")
        .alias("x"),
        (F.round(F.coalesce(F.sum(F.when(F.col("d") >= split, F.col("p"))),
                            F.lit(0)), 2) * 100)
        .cast("bigint")
        .alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    cov = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    varx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vary = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    return m.select(
        "n",
        F.expr(
            f"CAST(floor(1000000.0e0 * {cov} / nullif({varx}, 0.0e0))"
            " AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            f"CAST(floor(1000.0e0 * {cov} * {cov}"
            f" / nullif({varx} * {vary}, 0.0e0)) AS BIGINT)"
        ).alias("var_reduction_permille"),
    )


_CUPED_SQL = f"""
    WITH xy AS (
        SELECT o_custkey,
               CAST(round(coalesce(sum(CASE WHEN o_orderdate
                        < DATE '{_CUPED_SPLIT}'
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0), 2)
                    * 100 AS BIGINT) AS x,
               CAST(round(coalesce(sum(CASE WHEN o_orderdate
                        >= DATE '{_CUPED_SPLIT}'
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0), 2)
                    * 100 AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM xy
    )
    SELECT n,
           CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
                AS BIGINT) AS theta_micro,
           CAST(floor(1000.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0))
                AS BIGINT) AS var_reduction_permille
    FROM m
"""


# ---------------------------------------------------------------------------
# difference-in-differences (quasi-experimental effect estimation)
# ---------------------------------------------------------------------------

_DID_SPLIT = _CUPED_SPLIT  # same pre/post calendar cut as CUPED
_DID_TREATED_REGION = 2  # treated group = nations of one region; rest control


def did_revenue_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator for
    rollouts without randomization (Card & Krueger): treated group =
    customers of one region's nations, control = everyone else; effect
    = (treated_post − treated_pre) − (control_post − control_pre), on
    per-customer average spend so group-size drift between periods
    cannot masquerade as an effect. Complements [[cuped_variance_
    reduction]] (randomized tests) with the observational tool. All
    four cell means are exact cents sums over exact customer counts;
    the estimate is reported in integer milli-cents via truncating div
    on the cross-multiplied exact integers — no float enters.

    Scale shape: the orders fact scans ONCE; group and period are both
    conditional indicators inside a single (customer-key then 1-row)
    aggregate chain — the four DiD cells are four conditional sums, not
    four scans; the customer→nation→region dims broadcast.

    Overflow discipline: the estimate is TWO per-group truncating
    rationals (treated delta, control delta), each bounded by
    1000·s·c ≈ 10²⁵ at sf100 — comfortably inside DECIMAL(38,0) and
    HUGEINT — not one cross-multiplied s·c³ rational (≈10³⁸ at sf100,
    where Spark silently NULLs on decimal overflow while DuckDB
    errors). Cost: each group's delta truncates ≤1 millicent before
    the subtraction (both engines' integer division truncates toward
    zero — verified for negative operands), so the reported effect is
    within 2 millicents of the exact rational, deterministically
    identical cross-engine at any SF."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        "o_orderdate",
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    cust_grp = customer.join(
        F.broadcast(nation),
        customer["c_nationkey"] == nation["n_nationkey"],
    ).select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("n_regionkey") == _DID_TREATED_REGION).alias("treated"),
    )
    split = F.lit(_DID_SPLIT).cast("date")
    post = (F.col("o_orderdate") >= split).alias("post")
    cells = (
        orders.join(F.broadcast(cust_grp), "o_custkey")
        .select("o_custkey", "treated", post, "p")
        .groupBy("treated", "post")
        .agg(
            (F.round(F.sum("p"), 2) * 100).cast("decimal(38,0)").alias("s"),
            F.expr("CAST(count(DISTINCT o_custkey) AS DECIMAL(38,0))").alias(
                "c"
            ),
        )
    )
    m = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p2),
                    F.col(col),
                )
            ).alias(f"{col}_{int(t)}{int(p2)}")
            for t in (True, False)
            for p2 in (True, False)
            for col in ("s", "c")
        ]
    )
    # effect = (s11/c11 - s10/c10) - (s01/c01 - s00/c00): one truncating
    # rational PER GROUP (magnitude 1000·s·c, overflow-safe at any
    # realistic SF), then an integer subtraction — see docstring.
    t_diff = (
        "(1000 * (s_11 * c_10 - s_10 * c_11))"
        " div nullif(c_11 * c_10, 0)"
    )
    c_diff = (
        "(1000 * (s_01 * c_00 - s_00 * c_01))"
        " div nullif(c_01 * c_00, 0)"
    )
    return m.select(
        F.expr("CAST(c_11 AS BIGINT)").alias("n_treated_post"),
        F.expr("CAST(c_01 AS BIGINT)").alias("n_control_post"),
        F.expr(f"CAST(({t_diff}) - ({c_diff}) AS BIGINT)").alias(
            "did_millicents_per_cust"
        ),
    )


_DID_SQL = f"""
    WITH cells AS (
        SELECT (n.n_regionkey = {_DID_TREATED_REGION}) AS treated,
               (o.o_orderdate >= DATE '{_DID_SPLIT}') AS post,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                    * 100 AS HUGEINT) AS s,
               CAST(count(DISTINCT o.o_custkey) AS HUGEINT) AS c
        FROM orders o
        JOIN customer cu ON cu.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = cu.c_nationkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT
            max(CASE WHEN treated AND post THEN s END) AS s_11,
            max(CASE WHEN treated AND post THEN c END) AS c_11,
            max(CASE WHEN treated AND NOT post THEN s END) AS s_10,
            max(CASE WHEN treated AND NOT post THEN c END) AS c_10,
            max(CASE WHEN NOT treated AND post THEN s END) AS s_01,
            max(CASE WHEN NOT treated AND post THEN c END) AS c_01,
            max(CASE WHEN NOT treated AND NOT post THEN s END) AS s_00,
            max(CASE WHEN NOT treated AND NOT post THEN c END) AS c_00
        FROM cells
    )
    SELECT CAST(c_11 AS BIGINT) AS n_treated_post,
           CAST(c_01 AS BIGINT) AS n_control_post,
           CAST(((1000 * (s_11 * c_10 - s_10 * c_11))
                     // nullif(c_11 * c_10, 0))
                - ((1000 * (s_01 * c_00 - s_00 * c_01))
                     // nullif(c_01 * c_00, 0)) AS BIGINT)
               AS did_millicents_per_cust
    FROM m
"""


QUERIES = {
    "seasonal_decompose_revenue": seasonal_decompose_revenue,
    "cuped_variance_reduction": cuped_variance_reduction,
    "did_revenue_effect": did_revenue_effect,
    "brand_size_price_corr": brand_size_price_corr,
    "theilsen_revenue_trend": theilsen_revenue_trend,
    "mann_kendall_trend": mann_kendall_trend,
    "calibration_bins": calibration_bins,
    "permutation_test_discount": permutation_test_discount,
    "spearman_balance_spend": spearman_balance_spend,
    "hhi_nation_concentration": hhi_nation_concentration,
    "trimmed_mean_brand_price": trimmed_mean_brand_price,
    "priority_status_woe": priority_status_woe,
    "benford_first_digit": benford_first_digit,
    "event_weekday_mi": event_weekday_mi,
    "kmv_distinct_estimate": kmv_distinct_estimate,
    "price_bracket_rollup": price_bracket_rollup,
    "frequent_baskets": frequent_baskets,
    "event_funnel": event_funnel,
    "events_daily_anomalies": events_daily_anomalies,
    "order_value_histogram": order_value_histogram,
    "order_drift_histogram": order_drift_histogram,
    "sketch_union_rollup": sketch_union_rollup,
    "kll_quantile_rollup": kll_quantile_rollup,
    "theta_set_ops": theta_set_ops,
    "retention_cohorts": retention_cohorts,
    "cohort_ltv": cohort_ltv,
    "revenue_rollup_sets": revenue_rollup_sets,
    "revenue_cube": revenue_cube,
    "lapsed_buyers_except": lapsed_buyers_except,
    "weighted_median_price": weighted_median_price,
    "robust_price_outliers": robust_price_outliers,
    "order_status_pivot": order_status_pivot,
    "event_props_json": event_props_json,
    "price_percentiles": price_percentiles,
    "percentile_accuracy_check": percentile_accuracy_check,
    "pricing_summary": pricing_summary,
    "forecast_revenue_change": forecast_revenue_change,
    "repeat_buyers_intersect": repeat_buyers_intersect,
    "revenue_unpivot": revenue_unpivot,
    "cms_heavy_hitters": cms_heavy_hitters,
    "drift_psi": drift_psi,
    "supplier_revenue_gini": supplier_revenue_gini,
    "cms_accuracy_check": cms_accuracy_check,
    "cms_join_size_estimate": cms_join_size_estimate,
    "rfm_segmentation": rfm_segmentation,
    "cusum_changepoint": cusum_changepoint,
    "seasonality_autocorr": seasonality_autocorr,
    "return_rate_wilson": return_rate_wilson,
    "order_priority_auc": order_priority_auc,
    "priority_lift_bins": priority_lift_bins,
    "priority_status_chisq": priority_status_chisq,
    "ks_two_sample": ks_two_sample,
}

ORACLES = {
    "seasonal_decompose_revenue": _SEASONAL_SQL,
    "cuped_variance_reduction": _CUPED_SQL,
    "did_revenue_effect": _DID_SQL,
    "brand_size_price_corr": _BRAND_CORR_SQL,
    "theilsen_revenue_trend": _THEILSEN_SQL,
    "mann_kendall_trend": _MANN_KENDALL_SQL,
    "calibration_bins": _CALIBRATION_SQL,
    "permutation_test_discount": _PERM_TEST_SQL,
    "spearman_balance_spend": _SPEARMAN_SQL,
    "hhi_nation_concentration": _HHI_SQL,
    "trimmed_mean_brand_price": _TRIMMED_MEAN_SQL,
    "priority_status_woe": _WOE_SQL,
    "benford_first_digit": _BENFORD_SQL,
    "event_weekday_mi": _MI_SQL,
    "kmv_distinct_estimate": _KMV_SQL,
    "price_bracket_rollup": _BRACKET_SQL,
    "frequent_baskets": _BASKETS_SQL,
    "event_funnel": _FUNNEL_SQL,
    "events_daily_anomalies": _ANOMALY_SQL,
    "order_value_histogram": _HISTOGRAM_SQL,
    "order_drift_histogram": _DRIFT_SQL,
    "sketch_union_rollup": _SKETCH_ROLLUP_SQL,
    "kll_quantile_rollup": _KLL_ROLLUP_SQL,
    "theta_set_ops": _THETA_SQL,
    "retention_cohorts": _RETENTION_SQL,
    "cohort_ltv": _COHORT_LTV_SQL,
    "revenue_rollup_sets": _ROLLUP_SQL,
    "revenue_cube": _CUBE_SQL,
    "lapsed_buyers_except": _EXCEPT_SQL,
    "weighted_median_price": _WEIGHTED_MEDIAN_SQL,
    "robust_price_outliers": _MAD_SQL,
    "order_status_pivot": _PIVOT_SQL,
    "event_props_json": _JSON_SQL,
    "price_percentiles": _PERCENTILE_SQL,
    "percentile_accuracy_check": _PCT_ACCURACY_SQL,
    "pricing_summary": _PRICING_SQL,
    "forecast_revenue_change": _FORECAST_SQL,
    "repeat_buyers_intersect": _INTERSECT_SQL,
    "revenue_unpivot": _UNPIVOT_SQL,
    "cms_heavy_hitters": _CMS_HH_SQL,
    "drift_psi": _PSI_SQL,
    "supplier_revenue_gini": _GINI_SQL,
    "cms_accuracy_check": _CMS_ACCURACY_SQL,
    "cms_join_size_estimate": _CMS_JOIN_SIZE_SQL,
    "rfm_segmentation": _RFM_SQL,
    "cusum_changepoint": _CUSUM_SQL,
    "seasonality_autocorr": _autocorr_sql(),
    "return_rate_wilson": _WILSON_SQL,
    "order_priority_auc": _AUC_SQL,
    "priority_lift_bins": _LIFT_SQL,
    "priority_status_chisq": _CHISQ_SQL,
    "ks_two_sample": _KS_SQL,
}
