"""Skew / co-location operators — the shapes that decide whether a job
finishes at 100 TB, made first-class instead of folklore.

The reference never handles skew (its 15-table loop is metadata-driven,
`2_Bronze_to_Silver.py:35`, and Databricks AQE absorbed whatever skew
its sales data had). At 1000-executor scale three patterns carry most
real pipelines:

- **Salted two-phase aggregation**: a groupBy on a low-cardinality or
  heavy-hitter key puts whole key populations on single reducers. Phase
  one aggregates on (key, salt) — fan-out over salt spreads each key
  across the cluster — phase two merges the tiny per-salt partials.
- **Salted join**: same idea for large×medium joins where one big-side
  key dominates; the small side is replicated once per salt.
- **Bucketed co-located join**: pre-bucket both sides on the join key at
  write time (`bucketBy` + `saveAsTable`) and the join runs with ZERO
  shuffle — the 100 TB answer for repeated fact-to-fact joins.

The grouped custom operator (`user_event_gaps`) rides the Arrow path:
``groupBy(...).applyInPandas`` ships each group as a pandas DataFrame in
columnar batches — the idiomatic escape hatch when per-group logic
(here: ordered gap analysis) outgrows built-in window functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.rounds import cut
from .temporal import _ASOF_SQL

_N_SALTS = 32


def salted_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over ``event_type`` — 5 distinct
    keys, so an unsalted groupBy uses at most 5 of the cluster's
    reducers no matter how many executors exist. Phase 1 groups on
    (event_type, salt32): every key spreads over 32 reducers and the
    map-side partial agg still applies. Phase 2 merges 5×32 tiny rows.

    The salt is a deterministic hash of the row key (not ``rand()``) so
    reruns and retried tasks place rows identically — at-least-once
    schedulers re-execute lost tasks, and a nondeterministic salt would
    double-count rows that land in a different partition on retry.
    """
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_N_SALTS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("total_value"),
    )


_SALTED_SQL = """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
"""


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Skew-mitigated equi-join: the big side gets a deterministic salt
    in [0, n_salts); the small side is replicated once per salt value via
    a single ``explode`` (one narrow map, not a shuffle). Joining on
    (key, salt) splits each heavy key's rows across n_salts reducers.

    Use when BOTH sides are too big to broadcast and the big side has
    heavy-hitter keys; cost is n_salts× the small side's shuffle volume.
    Result equals ``big.join(small, key, how)`` exactly (pytest-asserted
    in tests/test_scale.py).

    Only inner/left joins are legal: the small side is REPLICATED once
    per salt, so right/full joins would emit every unmatched small-side
    row n_salts times. (Skew-salt the other side instead, or dedup the
    replicas — neither silently.)
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: the "
            "replicated small side would duplicate unmatched rows under "
            "right/full joins"
        )
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_salts)))
    small_s = small.withColumn("_salt", F.explode(salts))
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int = 8
) -> None:
    """Persist a managed table hash-bucketed (and sorted) on the join
    key. Two tables bucketed the same way join with no Exchange on
    either side — the physical plan goes straight to sort-merge over
    co-located buckets (plan-audited in tests/test_scale.py). At 100 TB
    this converts every repeated fact-to-fact join from a full shuffle
    of both sides into a local merge.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via a BUCKETED grouped-map
    Pandas UDF: users hash into ~shuffle-width buckets, each bucket
    arrives as ONE pandas DataFrame (Arrow columnar transfer), and the
    per-user median-of-gaps reduces VECTORIZED inside the bucket.

    Ordered gap analysis is the canonical applyInPandas case: a window
    ``lag`` gives the gaps, but medians-of-gaps (and anything iterative
    past that — session embeddings, per-user models) need the whole
    ordered group in hand. The bucketing is the part that makes the
    Arrow path production-shaped: grouping by raw user_id pays the
    per-group Python/Arrow dispatch once PER USER (measured ~6 s at
    sf0.1 — 10-20× its JVM twin ``user_event_gaps_window``); grouping
    by a coarse hash bucket pays it once per BUCKET while numpy does
    the per-user work at C speed. Same one shuffle, same semantics,
    same oracle — tests/test_scale.py pins equivalence against the
    JVM window twin row-for-row.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values(["user_id", "ts", "event_id"])
        # Exact integer microseconds (ns→µs int div): float seconds +
        # round(…, 3) diverged from the oracle by 1 ms on tie values at
        # sf0.1. Median is the DISCRETE lower-middle element (index
        # (n-1)//2 of the sorted gaps — DuckDB quantile_disc semantics),
        # so the result is always an actual gap value, never an
        # interpolated float.
        us = g["ts"].astype("int64") // 1000
        gap = us.diff()
        gap[g["user_id"].ne(g["user_id"].shift())] = None
        counts = g.groupby("user_id", sort=False).size()
        d = pd.DataFrame({"user_id": g["user_id"], "gap": gap}).dropna()
        d["gap"] = d["gap"].astype("int64")
        d = d.sort_values(["user_id", "gap"], kind="mergesort")
        pos = d.groupby("user_id", sort=False).cumcount()
        n_gaps = d.groupby("user_id", sort=False)["gap"].transform("size")
        med = d[pos == (n_gaps - 1) // 2].set_index("user_id")["gap"]
        out = counts.rename("n_events").to_frame()
        out["median_gap_us"] = med  # users with no gaps -> NaN -> NULL
        out["median_gap_us"] = out["median_gap_us"].astype(object).where(
            out["median_gap_us"].notna(), None
        )
        return out.reset_index()

    return (
        events.withColumn("bucket", F.pmod(F.hash("user_id"), F.lit(n_buckets)))
        .groupBy("bucket")
        .applyInPandas(
            gaps, schema="user_id bigint, n_events bigint, median_gap_us bigint"
        )
    )


def user_event_gaps_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of ``user_event_gaps``: median-of-gaps is
    expressible entirely JVM-side — a ``lag`` window for the gap, then
    ``percentile(gap, 0.5)`` per user — so no Arrow transfer, no Python
    workers, whole-stage codegen end-to-end. Same single shuffle on
    user_id as the grouped-map form, which stays registered as the
    documented applyInPandas escape-hatch demo (the same twin pattern as
    ``purchase_attribution_asof`` / ``asof_join_cogroup``)."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = events.select("user_id", (us - F.lag(us).over(w)).alias("gap"))
    # Discrete median (lower-middle element — quantile_disc semantics,
    # matching the grouped-map twin): exact BIGINT, no interpolation, no
    # float in the output. collect_list is bounded by per-user activity.
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "CASE WHEN count(gap) = 0 THEN NULL "
            "ELSE element_at(sort_array(collect_list(gap)), "
            "CAST(ceil(count(gap) / 2) AS INT)) END"
        ).alias("median_gap_us"),
    )


def asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch as-of attribution via the two-sided Pandas API:
    ``groupBy().cogroup().applyInPandas`` delivers co-bucketed purchase
    and click frames, merged with ``pd.merge_asof(..., by="user_id")``
    (backward, exact matches allowed — p.ts >= c.ts, same semantics as
    the ASOF oracle and the window-based ``purchase_attribution_asof``).

    cogroup is the custom-two-sided-merge escape hatch: when the merge
    logic outgrows SQL (interval alignment, per-key models joining
    features to events), this is the shape — one co-partitioned shuffle
    on the key, Arrow both ways, group-bounded memory. The key is a
    coarse HASH BUCKET of the user, not the raw user_id: cogrouping on
    raw keys pays the Python/Arrow dispatch once per user (measured
    ~10 s at sf0.1, 20× the window twin), while ``merge_asof``'s
    ``by=`` does the per-user alignment vectorized inside each bucket.
    Same shuffle, same semantics, same oracle. The built-in window form
    stays the production pick for THIS query; the driver checks both
    against the same SQL oracle.
    """
    events = load_table(spark, sf_dir, "events")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bucket = F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket")
    purchases = events.where(F.col("event_type") == "purchase").select(
        bucket, "user_id", "ts", "event_id"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        bucket, "user_id", "ts"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("ts", kind="mergesort")
        right = right.sort_values("ts", kind="mergesort").rename(
            columns={"ts": "click_ts"}
        )
        out = pd.merge_asof(
            left,
            right.drop(columns=["bucket"]),
            left_on="ts",
            right_on="click_ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        # Exact integer milliseconds from µs timestamps (float seconds +
        # round(…, 3) diverged from the oracle by 1 ms on tie values at
        # sf0.1); NaT rows must become SQL NULL, not NaN/garbage ints,
        # to match the oracle's no-prior-click rows.
        has_click = out["click_ts"].notna()
        us_diff = (
            out["ts"].astype("int64") // 1000
            - out["click_ts"].fillna(out["ts"]).astype("int64") // 1000
        )
        ms = (us_diff // 1000).astype(object).where(has_click, None)
        return pd.DataFrame(
            {
                "event_id": out["event_id"],
                "user_id": out["user_id"],
                "purchase_ts": out["ts"],
                "last_click_ts": out["click_ts"],
                "ms_since_click": ms,
            }
        )

    return (
        purchases.groupBy("bucket")
        .cogroup(clicks.groupBy("bucket"))
        .applyInPandas(
            merge,
            schema=(
                "event_id bigint, user_id bigint, purchase_ts timestamp, "
                "last_click_ts timestamp, ms_since_click bigint"
            ),
        )
    )


_GAPS_SQL = """
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
        FROM events
    )
    SELECT user_id, count(*) AS n_events,
           quantile_disc(gap, 0.5) AS median_gap_us
    FROM gaps
    GROUP BY user_id
"""


def salted_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top spenders per market segment through a SALTED fact-to-dim
    join — the registry entry that puts ``salted_join`` under the
    driver's oracle instead of pytest alone. events.user_id is skewed
    by construction (15 distinct users across the whole events table,
    so an unsalted shuffle join uses at most 15 reducers and the
    heaviest user's rows pile onto one); ``salted_join`` spreads each
    user over 8 (key, salt) reducers while the segment side replicates
    via one narrow explode, no extra shuffle.

    Result is provably identical to the plain join (pytest-asserted for
    the operator; here the DuckDB oracle states the plain-join answer,
    so the salted plan must reproduce it bit-for-bit). Rank is over the
    ROUNDED per-user total with a user_id tie-break — deterministic on
    both engines per the oracle-exactness conventions."""
    events = load_table(spark, sf_dir, "events")
    segments = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(events, segments, "user_id", n_salts=8, how="inner")
    per_user = joined.groupBy("c_mktsegment", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("user_value"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("user_value"), F.col("user_id")
    )
    return (
        per_user.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "c_mktsegment",
            "user_id",
            "n_events",
            "user_value",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# The oracle is the PLAIN join — the salted plan must match it exactly.
_SALTED_JOIN_SQL = """
    WITH per_user AS (
        SELECT c.c_mktsegment, e.user_id,
               count(*) AS n_events,
               round(sum(e.value), 2) AS user_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.user_id
    )
    SELECT c_mktsegment, user_id, n_events, user_value,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY user_value DESC, user_id) AS rank
        FROM per_user
    )
    WHERE rank <= 3
"""


def bucketed_join_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status revenue summary computed through a BUCKETED
    co-located join — the registry entry that puts ``write_bucketed``
    under the driver's oracle. Both sides persist bucketed on the join
    key (4 buckets each), then join with broadcast disabled: the
    physical plan is a SortMergeJoin with ZERO Exchange on either side
    (the property ``test_scale.py`` pins) — at 100 TB this is every
    repeated fact-to-fact join paid as a local merge instead of a full
    shuffle of both tables.

    The join-agg executes eagerly (cut) while the
    no-broadcast conf and the bucketed tables exist; the driver then
    hashes the pinned result. Quantities are integral doubles in the
    testdata, so the sum lands exactly on both engines as BIGINT."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    )
    write_bucketed(orders, "q_bkt_orders", "o_orderkey", n_buckets=4)
    write_bucketed(lineitem, "q_bkt_lineitem", "o_orderkey", n_buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        out = (
            spark.table("q_bkt_orders")
            .join(spark.table("q_bkt_lineitem"), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lineitems"),
                F.sum("l_quantity").cast("bigint").alias("total_qty"),
            )
        )
        return cut(out)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS q_bkt_orders")
        spark.sql("DROP TABLE IF EXISTS q_bkt_lineitem")


_BUCKETED_SQL = """
    SELECT o.o_orderstatus, count(*) AS n_lineitems,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
"""


def zorder_clustering_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering of orders on (customer, order-day):
    compute the interleaved key (``functions.zorder_key`` — pure bit
    arithmetic, codegen-folded, no shuffle), coarse-bucket it by its
    high bits, and report each bucket's row count and BOTH dimensions'
    min/max spread. Sorting/range-partitioning files by this key is the
    layout that lets parquet min/max stats skip files for 2-D
    predicates (Delta's OPTIMIZE ZORDER, from first principles) — the
    per-bucket spread in this output IS the file-skipping quality
    metric a layout job would monitor.

    The oracle renders the IDENTICAL bit expression via
    ``zorder_key_sql`` (one generator, two engines — no drift)."""
    from ..functions import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    day = F.greatest(
        F.lit(0), F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    )
    z = zorder_key(F.col("o_custkey"), day)
    return (
        orders.select(
            F.col("o_custkey"), day.alias("day_num"), z.alias("zval")
        )
        .groupBy(F.shiftright(F.col("zval"), 22).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("day_num").alias("min_day"),
            F.max("day_num").alias("max_day"),
        )
    )


def _zorder_sql() -> str:
    from ..functions import zorder_key_sql

    zexpr = zorder_key_sql("o_custkey", "day_num")
    return f"""
        WITH d AS (
            SELECT o_custkey,
                   greatest(0, datediff('day', DATE '1995-01-01',
                                        CAST(o_orderdate AS DATE))) AS day_num
            FROM orders
        ),
        z AS (SELECT o_custkey, day_num, {zexpr} AS zval FROM d)
        SELECT zval >> 22 AS z_bucket,
               count(*) AS n_orders,
               min(o_custkey) AS min_custkey,
               max(o_custkey) AS max_custkey,
               CAST(min(day_num) AS INT) AS min_day,
               CAST(max(day_num) AS INT) AS max_day
        FROM z
        GROUP BY z_bucket
    """


# ---------------------------------------------------------------------------
# key-skew diagnosis (the measurement that justifies salting)
# ---------------------------------------------------------------------------

#: Heavy hitters reported by the skew profile.
_SKEW_TOP_K = 10


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis for a prospective join/agg key — the measurement
    step BEFORE reaching for ``salted_join``/``salted_event_type_counts``:
    per-key row counts for ``events.user_id``, reduced to the top
    ``_SKEW_TOP_K`` heavy hitters with corpus-wide skew metrics on every
    row. ``max_over_avg_e4`` (max key count ÷ mean key count, ×10⁴
    floored — pure bigint arithmetic, no floats for the driver hash to
    canonicalize) is the number that decides: ≈10⁴ means uniform, ≥10⁵
    means the biggest reducer does 10× the average and the key needs
    salting or AQE skew-join before it needs more executors.

    Shape: ONE map-side-combined shuffle to per-key counts (the
    distribution table is |keys| rows — small even when rows are 100 TB),
    then a TakeOrderedAndProject top-K and a single-row global aggregate
    broadcast back over the K winners. No all-row sort, no collect.
    """
    # Eager materialization: top-K and the totals BOTH consume the
    # per-key counts, and the static plan re-scans events once per
    # consumer without it (ReusedExchange is not guaranteed across the
    # branches). |keys| rows — cheap to pin, and the corpus scan runs
    # exactly once.
    counts = cut(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
    ).withColumn(
        "max_over_avg_e4",
        F.expr("CAST(max_cnt * n_keys * 10000 DIV n_rows AS BIGINT)"),
    )
    top = counts.orderBy(F.desc("cnt"), "user_id").limit(_SKEW_TOP_K)
    return top.crossJoin(F.broadcast(totals)).select(
        "user_id",
        "cnt",
        F.expr("CAST(cnt * 1000000 DIV n_rows AS BIGINT)").alias("share_e6"),
        "n_keys",
        "n_rows",
        "max_cnt",
        "min_cnt",
        "max_over_avg_e4",
    )


_SKEW_SQL = f"""
    WITH c AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               CAST(min(cnt) AS BIGINT) AS min_cnt
        FROM c
    ),
    top AS (
        SELECT user_id, cnt FROM c
        ORDER BY cnt DESC, user_id LIMIT {_SKEW_TOP_K}
    )
    SELECT top.user_id, CAST(top.cnt AS BIGINT) AS cnt,
           CAST((top.cnt * 1000000) // t.n_rows AS BIGINT) AS share_e6,
           t.n_keys, t.n_rows, t.max_cnt, t.min_cnt,
           CAST((t.max_cnt * t.n_keys * 10000) // t.n_rows AS BIGINT)
               AS max_over_avg_e4
    FROM top CROSS JOIN t
"""


QUERIES = {
    "salted_event_type_counts": salted_event_type_counts,
    "key_skew_profile": key_skew_profile,
    "salted_join_topk": salted_join_topk,
    "bucketed_join_summary": bucketed_join_summary,
    "zorder_clustering_stats": zorder_clustering_stats,
    "user_event_gaps": user_event_gaps,
    "user_event_gaps_window": user_event_gaps_window,
    "asof_join_cogroup": asof_join_cogroup,
}

ORACLES = {
    "salted_event_type_counts": _SALTED_SQL,
    "key_skew_profile": _SKEW_SQL,
    "salted_join_topk": _SALTED_JOIN_SQL,
    "bucketed_join_summary": _BUCKETED_SQL,
    "zorder_clustering_stats": _zorder_sql(),
    "user_event_gaps": _GAPS_SQL,
    # JVM twin: identical semantics, shared oracle — drift-proof.
    "user_event_gaps_window": _GAPS_SQL,
    # Same semantics, same oracle — shared with the window-based as-of so
    # a future oracle fix cannot drift between the two engine paths.
    "asof_join_cogroup": _ASOF_SQL,
}
