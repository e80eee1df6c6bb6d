"""Temporal operators the reference's event/CDC model implies but Spark
lacks as primitives (SURVEY.md §1.1 event stream; engine extensions):

- **as-of join** — attach to each event the most recent prior event of
  another stream (attribution: purchase ← last click). Spark has no
  ASOF JOIN; the scalable formulation is the union trick: tag both
  streams, one window over (key, time) carrying the last non-null
  left-value forward. ONE shuffle on the key — no range join, no
  per-row probe. DuckDB's native ASOF JOIN is the oracle.
- **sessionization** — gap-based session ids (islands): lag to flag
  gap-exceeding starts, running sum to number sessions, then a
  per-session rollup. Two windows + one agg over the SAME (user) key →
  Catalyst plans a single shuffle; state per key is one row.

Scale: both operators shuffle once on the entity key and carry no
unbounded state. Skewed users would salt the key; at 100 TB the same
plans hold with time-range partition pruning on the scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import local_df
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.rounds import cut

_SESSION_GAP_SECS = 30 * 60


def purchase_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the most recent click by the same user
    at or before the purchase (last-touch attribution) — an as-of
    backward join, tolerant of purchases with no prior click (left).

    Union trick: clicks carry their ts in ``click_ts``; purchases carry
    null. Sorted by (user, ts, tag) with clicks first on ties,
    ``last(click_ts, ignorenulls=True)`` over the growing frame yields
    the as-of value; filter back to purchases. Ties at identical ts
    resolve to "click counts" (<=), matching ASOF's p.ts >= c.ts.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("__tag"),
        F.col("ts").alias("click_ts"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("__tag"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        "event_id",
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .where(F.col("__tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            # Exact integer milliseconds (µs diff, integer div): a
            # round(double, 3) here diverged from the oracle by 1 ms on
            # tie values at sf0.1 (r4 full-precision sweep) — timestamps
            # are µs-resolution, so integer arithmetic is lossless and
            # the driver's hash never sees a float.
            F.expr(
                "(unix_micros(ts) - unix_micros(last_click_ts)) div 1000"
            ).alias("ms_since_click"),
        )
    )


_ASOF_SQL = """
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts,
           epoch_us(p.ts - c.ts) // 1000 AS ms_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (30-minute inactivity closes a
    session): session sequence number, bounds, event count, duration."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
                > F.lit(float(_SESSION_GAP_SECS))
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_seq", F.sum("new_sess").over(w).cast("bigint"))
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double")), 3
        ).alias("duration_secs"),
    )


_SESSIONIZE_SQL = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {float(_SESSION_GAP_SECS)}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_secs
    FROM sess
    GROUP BY ALL
"""


def click_conversion_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every click, the NEXT purchase by the same
    user at or after the click — conversion-lag measurement, the mirror
    of ``purchase_attribution_asof``'s backward attribution. Same union
    trick, scanned DESCENDING: purchases sort before clicks on ts ties
    (tag 0 under the same orderBy), so ``last(purchase_ts,
    ignorenulls)`` over the growing DESC frame is the nearest future
    purchase and a tie (purchase at the click's exact ts) counts, per
    ASOF's c.ts <= p.ts. Still ONE shuffle on the user key — direction
    is free; it only flips the sort."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("__tag"),
        F.col("ts").alias("purchase_ts"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("__tag"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        "event_id",
    )
    merged = purchases.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(
            "next_purchase_ts", F.last("purchase_ts", ignorenulls=True).over(w)
        )
        .where(F.col("__tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "next_purchase_ts",
            # Integer milliseconds, same lossless-µs discipline as the
            # backward as-of.
            F.expr(
                "(unix_micros(next_purchase_ts) - unix_micros(ts)) div 1000"
            ).alias("ms_to_purchase"),
        )
    )


_FORWARD_ASOF_SQL = """
    SELECT c.event_id, c.user_id, c.ts AS click_ts, p.ts AS next_purchase_ts,
           epoch_us(p.ts - c.ts) // 1000 AS ms_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
"""


def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day by SWEEP-LINE — the interval-
    overlap pattern that needs no self-join. A naive "how many sessions
    overlap" is an interval×interval range join (quadratic blow-up per
    time bucket); the sweep turns every session into two boundary
    deltas (+1 at start, −1 at end), clips them to calendar days, and
    takes the max running sum per day. Cost is two rows per
    session-day — linear — and every window is PARTITIONED BY DAY, so
    days compute in parallel and nothing ever funnels through a
    single-partition global order (the WindowExec trap r6 flagged).

    Sessions reuse [[events_sessionize]]'s 30-minute-gap definition and
    stay "active" one gap past their last event (the inactivity
    timeout). Carry-in from sessions that started on an earlier day is
    handled by the clip itself: a spanning session contributes its +1
    at the day's first instant. Ties order +1 before −1 (``delta``
    descending), so back-to-back sessions touching at an instant count
    as concurrent — deterministic in both engines, and the running
    maximum is insensitive to order among equal deltas at equal
    timestamps. Day fan-out is bounded by session duration (a 30-min
    timeout keeps it ≤ 2 days in practice), so the explode is safe at
    any scale."""
    sessions = events_sessionize(spark, sf_dir)
    bounds = sessions.select(
        F.col("session_start"),
        (F.col("session_end") + F.expr("INTERVAL 30 MINUTES")).alias("active_end"),
    )
    days = bounds.withColumn(
        "day", F.explode(F.sequence(F.to_date("session_start"), F.to_date("active_end")))
    )
    day_start = F.col("day").cast("timestamp")
    clipped = days.select(
        "day",
        F.greatest(F.col("session_start"), day_start).alias("start_clip"),
        F.least(
            F.col("active_end"), day_start + F.expr("INTERVAL 1 DAY")
        ).alias("end_clip"),
    )
    deltas = clipped.select(
        "day", F.col("start_clip").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        clipped.select("day", F.col("end_clip").alias("ts"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.withColumn("running", F.sum("delta").over(w))
    return (
        running.groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_active_sessions"),
            F.max("running").cast("bigint").alias("peak_concurrent"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active_sessions",
            "peak_concurrent",
        )
    )


_PEAK_CONCURRENCY_SQL = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {float(_SESSION_GAP_SECS)}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS session_seq
        FROM flagged
    ),
    bounds AS (
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS active_end
        FROM sess GROUP BY user_id, session_seq
    ),
    days AS (
        SELECT session_start, active_end,
               CAST(unnest(generate_series(CAST(session_start AS DATE),
                                           CAST(active_end AS DATE),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    clipped AS (
        SELECT day,
               greatest(session_start, CAST(day AS TIMESTAMP)) AS start_clip,
               least(active_end, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)
                   AS end_clip
        FROM days
    ),
    deltas AS (
        SELECT day, start_clip AS ts, 1 AS delta FROM clipped
        UNION ALL
        SELECT day, end_clip AS ts, -1 AS delta FROM clipped
    ),
    run AS (
        SELECT day, delta,
               sum(delta) OVER (PARTITION BY day ORDER BY ts ASC, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS running
        FROM deltas
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active_sessions,
           CAST(max(running) AS BIGINT) AS peak_concurrent
    FROM run
    GROUP BY day
"""


def transition_matrix_projection(pairs: DataFrame) -> DataFrame:
    """Shared final projection for the transition matrix — consumed by
    the batch `event_transition_matrix` AND the streaming fold
    (`streaming._transition_counts`), which is oracled by the batch
    query's SQL: one projection, so the two cannot drift. ``pairs``
    carries (prev_type, next_type, n_transitions)."""
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr(
            "(1000 * n_transitions) div sum(n_transitions)"
            " OVER (PARTITION BY prev_type)"
        ).alias("permille"),
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral Markov transitions: count every consecutive
    (prev_event_type → event_type) pair along each user's timeline,
    with row-normalized integer permille — the transition matrix that
    feeds next-action models and journey anomaly detection. One
    user-key shuffle for the lag window (bounded by per-user history),
    one tiny (|types|²) aggregate; ties at identical ts break on
    event_id so the sequence is total-ordered and engine-portable."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return transition_matrix_projection(pairs)


_TRANSITION_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_transitions,
           (1000 * n_transitions)
               // CAST(sum(n_transitions) OVER (PARTITION BY prev_type)
                       AS BIGINT) AS permille
    FROM pairs
"""


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the complement of the
    last-touch as-of join: every click in the hour before a purchase
    shares the credit equally (credit = 1000 permille div n touching
    clicks), then credit rolls up per click event. The banded join is
    the same state-bounded shape as the streaming attribution join;
    the per-purchase touch count comes from a purchase-key window over
    the join output (bounded by the band), never a second join. All
    integer arithmetic."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    touched = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    n_touch = F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    credited = touched.withColumn("n_touches", n_touch).withColumn(
        "credit_permille", F.expr("1000 div n_touches")
    )
    return (
        credited.groupBy("click_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases_touched"),
            F.sum("credit_permille").alias("total_credit_permille"),
        )
    )


_MULTI_TOUCH_SQL = """
    WITH touched AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    ),
    credited AS (
        SELECT click_id,
               1000 // CAST(count(*) OVER (PARTITION BY purchase_id)
                           AS BIGINT) AS credit_permille
        FROM touched
    )
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_purchases_touched,
           CAST(sum(credit_permille) AS BIGINT) AS total_credit_permille
    FROM credited
    GROUP BY click_id
"""


def timed_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BUDGETED funnel — `event_funnel`'s strict ordering plus a
    per-step deadline: a click converts only within 1 hour of SOME
    view, a purchase only within 1 hour of some already-qualified
    click. This is the funnel product analytics actually ships (a
    purchase three weeks after the click is not that campaign's
    conversion); the unbounded variant keeps the ordering-only
    semantics for comparison.

    Shape: two banded LEFT-SEMI joins chained on the user key — each
    stage keeps qualifying events only, so stage N+1's probe side
    shrinks monotonically; the band keeps join state bounded by the
    1-hour horizon (the same state argument as the stream-stream band
    join). Distinct-user counts fold in one final aggregate. No
    window, no self-cartesian."""
    events = load_table(spark, sf_dir, "events")

    def stage(name: str) -> DataFrame:
        return events.where(F.col("event_type") == name).select(
            F.col("user_id").alias(f"{name}_user"), F.col("ts").alias(f"{name}_ts")
        )

    views, clicks, purchases = stage("view"), stage("click"), stage("purchase")
    q_clicks = clicks.join(
        views,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") > F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    q_purchases = purchases.join(
        q_clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    return (
        views.agg(F.countDistinct("view_user").cast("bigint").alias("n_view_users"))
        .crossJoin(
            F.broadcast(
                q_clicks.agg(
                    F.countDistinct("click_user")
                    .cast("bigint")
                    .alias("n_timed_click_users")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                q_purchases.agg(
                    F.countDistinct("purchase_user")
                    .cast("bigint")
                    .alias("n_timed_purchase_users")
                )
            )
        )
    )


_TIMED_FUNNEL_SQL = """
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    qc AS (
        SELECT * FROM c
        WHERE EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = c.user_id
              AND v.ts <= c.ts AND v.ts > c.ts - INTERVAL 1 HOUR
        )
    ),
    qp AS (
        SELECT * FROM p
        WHERE EXISTS (
            SELECT 1 FROM qc
            WHERE qc.user_id = p.user_id
              AND qc.ts <= p.ts AND qc.ts > p.ts - INTERVAL 1 HOUR
        )
    )
    SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM v)
               AS n_view_users,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM qc)
               AS n_timed_click_users,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM qp)
               AS n_timed_purchase_users
"""


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE ``session_window``
    aggregate (the same operator the streaming family uses, run in
    batch) — the built-in twin of [[events_sessionize]]'s manual
    lag-and-running-sum islands. Both must produce identical sessions,
    so this query is oracled by the ISLANDS formulation in DuckDB: the
    native operator's merge semantics (window end = last event +
    gap; sessions merge while events fall inside the extending window)
    is exactly the 30-minute-inactivity rule.

    Output grain: (user, session) with event count and exact-second
    duration. Scale: one shuffle on the user key; Spark plans
    UpdatingSessionsExec + MergingSessionsExec — per-key state is the
    open session, the same bound as the streaming variant."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    gap = f"{_SESSION_GAP_SECS} seconds"
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            # native session windows end at last_event + gap; subtract
            # the gap back so the bound is the LAST EVENT, matching the
            # islands rollup's max(ts)
            (
                F.col("session_window.end")
                - F.expr(f"INTERVAL {_SESSION_GAP_SECS} SECONDS")
            ).alias("session_end"),
            "n_events",
            F.expr(
                "(unix_micros(session_window.end) - unix_micros(session_window.start))"
                f" div 1000000 - {_SESSION_GAP_SECS}"
            ).alias("duration_secs"),
        )
    )


_SESSION_NATIVE_SQL = f"""
    WITH flagged AS (
        -- >= not >: the native operator is END-EXCLUSIVE (an event at
        -- exactly prev + gap starts a NEW session), one boundary off
        -- from events_sessionize's strict-> islands. Integer-µs
        -- arithmetic, NOT float epoch(): the Spark side is the native
        -- integer-µs operator, and a double epoch subtraction at an
        -- exact 30-min gap can land one ulp under the bare-decimal
        -- 1800.0 and merge sessions the operator splits (review r9).
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= {_SESSION_GAP_SECS * 1_000_000}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           epoch_us(max(ts) - min(ts)) // 1000000 AS duration_secs
    FROM sess
    GROUP BY user_id, session_seq
"""


def user_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 Markov sequence mining — the step past
    [[event_transition_matrix]]'s order-1 pairs: count every
    consecutive (t1 → t2 → t3) event-type TRIGRAM along each user's
    total-ordered timeline, and row-normalize within the (t1, t2)
    prefix in integer permille. The permille column IS the order-2
    transition model P(next | last two) that journey prediction and
    anomaly scoring consume; comparing it against the order-1 matrix
    measures how much history actually helps.

    Shape: the same ONE user-key shuffle as the pair query (both lags
    ride the same window — Spark plans a single WindowExec for both),
    then a tiny ≤|types|³ aggregate; the prefix normalization windows
    over that bounded aggregate, never the events. Ties at identical ts
    break on event_id: total order, engine-portable."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        events.withColumn("t2", F.lag("event_type", 1).over(w))
        .withColumn("t1", F.lag("event_type", 2).over(w))
        .where(F.col("t1").isNotNull())
        .groupBy("t1", "t2", F.col("event_type").alias("t3"))
        .agg(F.count(F.lit(1)).alias("n_seq"))
    )
    prefix = Window.partitionBy("t1", "t2")
    return (
        tri.withColumn("prefix_total", F.sum("n_seq").over(prefix))
        .select(
            "t1",
            "t2",
            "t3",
            "n_seq",
            F.expr("(1000 * n_seq) div prefix_total").alias("permille"),
        )
    )


_TRIGRAM_SQL = """
    WITH seq AS (
        SELECT user_id, event_type AS t3,
               lag(event_type, 1) OVER w AS t2,
               lag(event_type, 2) OVER w AS t1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
        SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_seq
        FROM seq WHERE t1 IS NOT NULL
        GROUP BY t1, t2, t3
    )
    SELECT t1, t2, t3, n_seq,
           (1000 * n_seq) // CAST(sum(n_seq) OVER (PARTITION BY t1, t2)
                                  AS BIGINT) AS permille
    FROM tri
"""


def repeat_purchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-second-order HAZARD CURVE — the survival-analysis
    retention metric: for each gap length t (days between a customer's
    first and second order), the discrete hazard h(t) = P(repeat at t |
    no repeat before t) with one-time buyers correctly RIGHT-CENSORED
    at the observation horizon (max order date) instead of dropped —
    dropping them is the classic retention-inflation bug this query
    exists to avoid. All integer: d_t = repeats at gap t, n_t =
    customers still at risk at t (event OR censor time ≥ t),
    hazard_permille = 1000·d_t div n_t; Kaplan-Meier survival is the
    running product downstream tools take from exactly these columns.

    Shape: one customer-key window (per-customer history is bounded)
    yields first/second order dates; times aggregate to the
    calendar-bounded gap grain; the at-risk suffix count is a
    triangular join over that tiny grain (the [[supplier_revenue_gini]]
    offsets idiom, transposed) — no global window anywhere. Only gaps
    with at least one event surface (the hazard is 0 elsewhere)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        "o_orderkey",
    )
    horizon = orders.agg(F.max("od").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    firsts = (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("od"))).alias("first_od"),
            F.min(F.when(F.col("rn") == 2, F.col("od"))).alias("second_od"),
        )
    )
    times = firsts.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("second_od").isNotNull(),
            F.datediff("second_od", "first_od"),
        )
        .otherwise(F.datediff("mx", "first_od"))
        .cast("bigint")
        .alias("t"),
        F.col("second_od").isNotNull().cast("bigint").alias("is_event"),
    )
    grain = times.groupBy("t").agg(
        F.sum("is_event").alias("d_t"),
        F.count(F.lit(1)).alias("c_t"),
    )
    at_risk = (
        grain.alias("a")
        .join(grain.alias("b"), F.col("b.t") >= F.col("a.t"))
        .groupBy(F.col("a.t").alias("t"), F.col("a.d_t").alias("d_t"))
        .agg(F.sum("b.c_t").alias("n_at_risk"))
    )
    return at_risk.where(F.col("d_t") > 0).select(
        F.col("t").alias("gap_days"),
        F.col("d_t").alias("n_events"),
        "n_at_risk",
        F.expr("(1000 * d_t) div n_at_risk").alias("hazard_permille"),
    )


_HAZARD_SQL = """
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey
        FROM orders
    ),
    horizon AS (SELECT max(od) AS mx FROM o),
    ranked AS (
        SELECT o_custkey, od,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY od, o_orderkey) AS rn
        FROM o
    ),
    firsts AS (
        SELECT o_custkey,
               min(CASE WHEN rn = 1 THEN od END) AS first_od,
               min(CASE WHEN rn = 2 THEN od END) AS second_od
        FROM ranked WHERE rn <= 2
        GROUP BY o_custkey
    ),
    times AS (
        SELECT CASE WHEN second_od IS NOT NULL
                    THEN datediff('day', first_od, second_od)
                    ELSE datediff('day', first_od, (SELECT mx FROM horizon))
               END AS t,
               CASE WHEN second_od IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM firsts
    ),
    grain AS (
        SELECT CAST(t AS BIGINT) AS t,
               CAST(sum(is_event) AS BIGINT) AS d_t,
               CAST(count(*) AS BIGINT) AS c_t
        FROM times GROUP BY 1
    ),
    risk AS (
        SELECT t, d_t,
               CAST(sum(c_t) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_at_risk
        FROM grain
    )
    SELECT t AS gap_days, d_t AS n_events, n_at_risk,
           (1000 * d_t) // n_at_risk AS hazard_permille
    FROM risk WHERE d_t > 0
"""


_MARKOV_ITERS = 8  # absorption iterations; the metric is DEFINED as 8
# rounds (the pagerank fixed-round idiom) — exactness never depends on
# convergence, both engines unroll the same count.
_MARKOV_GAP_US = _SESSION_GAP_SECS * 1_000_000


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOVAL-EFFECT (Markov-chain) attribution — the principled
    successor to [[multi_touch_attribution]]'s linear split: model each
    user session as a first-order Markov walk over event types
    (START → … → CONV on first purchase, → EXIT if the session ends
    unconverted), then credit each channel by how much the conversion
    probability DROPS when the channel is removed (its inbound edges
    redirected to EXIT, denominators unchanged).

    Distributed part (the 100 TB part): sessionization + first-
    conversion truncation + transition counting — three same-key
    windows and one (prev, next) hash-agg over the events table,
    identical scale shape to [[event_transition_matrix]]. The
    resulting matrix is bounded by the EVENT-TYPE ENUM (≤ (|T|+1)·
    (|T|+2) cells regardless of row count), so the absorption solve is
    a control-plane computation on the collected matrix — the same
    bounded-collect class as the watermark row and the BPE argmax —
    in exact Python integers (micro-units, truncating division; Python
    ints widen arbitrarily, the oracle widens to HUGEINT).
    p_conv = _MARKOV_ITERS unrolled rounds of
    p(s) ← Σ_next n(s,next)·contrib(next) div out(s), contrib(CONV)=10⁶,
    contrib(EXIT)=0. The DuckDB oracle replays every step — windows,
    truncation, unrolled iterations, removals — bit-exactly."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.expr("unix_micros(ts)") - F.expr("unix_micros(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id))")
                > F.lit(_MARKOV_GAP_US)
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_seq", F.sum("new_sess").over(w))
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    prior_p = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
            ws.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    kept = sess.withColumn("prior_p", prior_p).where(F.col("prior_p") == 0)
    seq = kept.withColumn("prev_raw", F.lag("event_type").over(ws)).withColumn(
        "next_raw", F.lead("event_type").over(ws)
    )
    steps = seq.select(
        F.coalesce(F.col("prev_raw"), F.lit("START")).alias("prev_state"),
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("next_state"),
    )
    exits = seq.where(
        F.col("next_raw").isNull() & (F.col("event_type") != "purchase")
    ).select(
        F.col("event_type").alias("prev_state"), F.lit("EXIT").alias("next_state")
    )
    trans = (
        steps.unionByName(exits)
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()  # enum-bounded: ≤ (|types|+1)·(|types|+2) cells
    )
    cnt = {(r["prev_state"], r["next_state"]): int(r["n"]) for r in trans}
    outs: dict[str, int] = {}
    for (pv, _nx), n in cnt.items():
        outs[pv] = outs.get(pv, 0) + n
    chans = sorted(
        {pv for pv, _ in cnt if pv != "START"}
        | {nx for _, nx in cnt if nx not in ("CONV", "EXIT")}
    )
    states = ["START", *chans]
    removals = ["(none)", *chans]
    p = {(r, s): 0 for r in removals for s in states}
    for _ in range(_MARKOV_ITERS):
        nxt = {}
        for r in removals:
            for s in states:
                num = 0
                for (pv, nx), n in cnt.items():
                    if pv != s or (r != "(none)" and nx == r):
                        continue
                    contrib = (
                        1_000_000
                        if nx == "CONV"
                        else 0
                        if nx == "EXIT"
                        else p.get((r, nx), 0)
                    )
                    num += n * contrib
                nxt[(r, s)] = num // outs[s] if s in outs else 0
        p = nxt
    base = p[("(none)", "START")]
    rows = [
        (
            ch,
            base,
            p[(ch, "START")],
            (1000 * (base - p[(ch, "START")])) // base if base > 0 else 0,
        )
        for ch in chans
    ]
    return local_df(
        spark,
        rows,
        "channel string, p_conv_base_micro long, p_conv_removed_micro long,"
        " removal_effect_permille long",
    )


def _markov_sql() -> str:
    """Unrolled replay of ``markov_attribution``: the window/truncation
    pipeline, then ``_MARKOV_ITERS`` iteration CTEs carrying a
    ``removed`` dimension (channels × states stays enum-bounded). Each
    layer is AS MATERIALIZED — round t is referenced by round t+1's
    LEFT JOIN, the CTE-inlining trap (SCALE.md 'Oracle-side blowup')."""
    its = []
    prev = "p0"
    for t in range(_MARKOV_ITERS):
        its.append(f"""it{t} AS MATERIALIZED (
        SELECT b.removed, b.state, CAST(sum(b.contrib) // max(o.out_n) AS BIGINT) AS p
        FROM (
            SELECT r.removed, t.prev_state AS state,
                   CAST(t.n AS HUGEINT) * (CASE
                       WHEN t.next_state = 'CONV' THEN 1000000
                       WHEN t.next_state = 'EXIT' THEN 0
                       ELSE coalesce(pp.p, 0) END) AS contrib
            FROM trans t
            CROSS JOIN removals r
            LEFT JOIN {prev} pp ON pp.removed = r.removed
                                AND pp.state = t.next_state
            WHERE NOT (r.removed != '(none)' AND t.next_state = r.removed)
        ) b JOIN outs o ON o.prev_state = b.state
        GROUP BY b.removed, b.state
    )""")
        prev = f"it{t}"
    chain = ",\n    ".join(its)
    return f"""
    WITH seq0 AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {_MARKOV_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
        FROM seq0
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id, session_seq ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_p
            FROM sess)
        WHERE prior_p = 0
    ),
    seq AS (
        SELECT event_type,
               lag(event_type) OVER wk AS prev_raw,
               lead(event_type) OVER wk AS next_raw
        FROM kept
        WINDOW wk AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
    ),
    steps AS (
        SELECT coalesce(prev_raw, 'START') AS prev_state,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS next_state
        FROM seq
        UNION ALL
        SELECT event_type, 'EXIT' FROM seq
        WHERE next_raw IS NULL AND event_type != 'purchase'
    ),
    trans AS MATERIALIZED (
        SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
        FROM steps GROUP BY prev_state, next_state
    ),
    outs AS MATERIALIZED (
        SELECT prev_state, CAST(sum(n) AS BIGINT) AS out_n
        FROM trans GROUP BY prev_state
    ),
    chans AS (
        SELECT DISTINCT prev_state AS ch FROM trans WHERE prev_state != 'START'
        UNION
        SELECT DISTINCT next_state FROM trans
        WHERE next_state NOT IN ('CONV', 'EXIT')
    ),
    removals AS (SELECT '(none)' AS removed UNION ALL SELECT ch FROM chans),
    states AS (SELECT 'START' AS state UNION ALL SELECT ch FROM chans),
    p0 AS MATERIALIZED (
        SELECT r.removed, s.state, CAST(0 AS BIGINT) AS p
        FROM removals r, states s
    ),
    {chain},
    base AS (
        SELECT p FROM {prev} WHERE removed = '(none)' AND state = 'START'
    )
    SELECT c.ch AS channel,
           CAST(b.p AS BIGINT) AS p_conv_base_micro,
           CAST(coalesce(x.p, 0) AS BIGINT) AS p_conv_removed_micro,
           CAST(CASE WHEN b.p > 0
                THEN 1000 * (b.p - coalesce(x.p, 0)) // b.p
                ELSE 0 END AS BIGINT) AS removal_effect_permille
    FROM chans c
    CROSS JOIN base b
    LEFT JOIN {prev} x ON x.removed = c.ch AND x.state = 'START'
"""


_MARKOV_SQL = _markov_sql()


# ---------------------------------------------------------------------------
# binned range join (point-in-interval without a theta join)
# ---------------------------------------------------------------------------

_RJ_WINDOW_DAYS = 7  # interval width; ALSO the bin width (spans <= 2 bins)


def range_join_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-INTERVAL RANGE JOIN via bin bucketing — the missing
    Spark primitive (DuckDB ships IEJoin, Databricks a range-join hint;
    OSS Spark plans `a.day BETWEEN b.day AND b.day + 7` as a
    BroadcastNestedLoop/cartesian that dies at scale). The engine
    rewrite: pick the bin width equal to the interval width, so every
    interval [d, d+W) overlaps at most TWO W-wide bins — explode each
    interval into those two (nation, bin) keys, map each point to its
    single bin, equi-join on (nation, bin), and post-filter the exact
    range. The theta join becomes ONE hash-partitioned shuffle whose
    fan-out is bounded by per-bin density, never |L|×|R|.

    The business read: for every order, how many other same-nation
    orders landed in the following week (local market activity) —
    rolled up per nation. A point can't double-count: it matches an
    interval only in the point's own bin, and the interval's two
    exploded bins are distinct.

    100 TB: bin density is the only knob — skewed weeks salt the bin
    key; the oracle keeps the naive range join (the referee may be
    quadratic; the engine must not be)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT)"
        ).alias("day"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("bigint").alias("nation")
    )
    # o feeds three consumers (interval side, point side, final left
    # join) — cut so the orders scan + customer join runs
    # once, not per consumer (ReusedExchange is not guaranteed across
    # differently-partitioned reads; r13 self-review finding).
    o = cut(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "nation", "day")
    )
    w = _RJ_WINDOW_DAYS
    iv = o.select(
        F.col("o_orderkey").alias("i_okey"),
        F.col("nation").alias("i_nation"),
        F.col("day").alias("i_day"),
        F.explode(
            F.array(F.expr(f"day div {w}"), F.expr(f"day div {w} + 1"))
        ).alias("bin"),
    )
    pts = o.select(
        F.col("o_orderkey").alias("p_okey"),
        F.col("nation").alias("p_nation"),
        F.col("day").alias("p_day"),
        F.expr(f"day div {w}").alias("bin"),
    )
    pairs = iv.join(
        pts,
        (iv.i_nation == pts.p_nation)
        & (iv.bin == pts.bin)
        & (pts.p_day >= iv.i_day)
        & (pts.p_day < iv.i_day + w)
        & (pts.p_okey != iv.i_okey),
    )
    per_o = pairs.groupBy("i_okey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return (
        o.join(per_o, o.o_orderkey == per_o.i_okey, "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cnt").cast("bigint").alias("total_pairs"),
            F.max("cnt").cast("bigint").alias("max_pairs"),
            F.sum(F.when(F.col("cnt") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("orders_with_activity"),
        )
        .orderBy("nation")
    )


_RANGE_JOIN_SQL = f"""
    WITH o AS (
        SELECT o_orderkey, CAST(c_nationkey AS BIGINT) AS nation,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS day
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    pc AS (
        SELECT a.o_orderkey, a.nation,
               CAST(count(b.o_orderkey) AS BIGINT) AS cnt
        FROM o a LEFT JOIN o b
          ON a.nation = b.nation
         AND b.day >= a.day AND b.day < a.day + {_RJ_WINDOW_DAYS}
         AND b.o_orderkey != a.o_orderkey
        GROUP BY a.o_orderkey, a.nation
    )
    SELECT nation, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cnt) AS BIGINT) AS total_pairs,
           CAST(max(cnt) AS BIGINT) AS max_pairs,
           CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS orders_with_activity
    FROM pc
    GROUP BY nation
    ORDER BY nation
"""


# ---------------------------------------------------------------------------
# exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

# the four non-conversion channels, as bitmask bits
_SHAP_CHANNELS = (("click", 1), ("view", 2), ("signup", 4), ("error", 8))
_SHAP_N = len(_SHAP_CHANNELS)
# Shapley coalition weights scaled by n! = 24: w(S) = |S|!(n-1-|S|)!.
# The full mask (|S| = n) can never appear as an S (the S-side join
# requires a channel bit NOT in S); its weight slot is 0, unused.
_SHAP_W = {
    s: (
        math.factorial(bin(s).count("1"))
        * math.factorial(_SHAP_N - 1 - bin(s).count("1"))
        if bin(s).count("1") < _SHAP_N
        else 0
    )
    for s in range(2**_SHAP_N)
}


def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE attribution over the four touch channels —
    the game-theoretic credit split (Shapley 1953; the attribution
    variant every ads/growth platform offers beside last-touch and
    Markov removal-effect [[markov_attribution]]): channel i's credit
    is its average marginal contribution to the conversion rate over
    all orderings, φ_i = Σ_{S ⊆ C∖i} |S|!(n−1−|S|)!/n! · (v(S∪i) −
    v(S)). The characteristic function v(S) is the observed conversion
    rate of journeys (user-days) whose touched-channel set is exactly
    S (unobserved coalitions contribute v = 0 — the standard
    empirical-coalition convention, stated here because it IS a spec
    choice).

    Scale shape: the corpus-sized work is ONE (user, day) groupBy that
    ORs channel bits into a 4-bit mask and flags conversion — from
    there everything runs on the ≤2⁴-row coalition table: v in exact
    floor-micro units, the marginal sums over a (channel × coalition)
    frame of ≤ 4·2³ rows. With n = 4 the n!-scaled weights are the
    integers {6, 2, 2, 6} (module constants), so φ·24 is an EXACT
    integer — published as ``shapley_x24_micro`` WITHOUT the final /24:
    dividing would truncate φ's sub-integer micro part (φ is often
    negative and small — the error channel), and the undivided form IS
    the canonical exact integer. (Both engines' integer division
    truncates toward zero — DuckDB `//` included, verified — so a
    division would at least agree; it is skipped for exactness, not
    portability.)"""
    events = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for ch, b in _SHAP_CHANNELS:
        bit = F.when(F.col("event_type") == ch, b).otherwise(bit)
    journeys = (
        events.select(
            "user_id",
            F.to_date("ts").alias("d"),
            bit.alias("bit"),
            (F.col("event_type") == "purchase").cast("int").alias("conv"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.expr("CAST(bit_or(bit) AS INT)").alias("mask"),
            F.max("conv").alias("conv"),
        )
    )
    coal = journeys.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_j"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    allmasks = local_df(
        spark,
        [(s, _SHAP_W[s]) for s in range(2**_SHAP_N)],
        "mask INT, w BIGINT",
    )
    v = cut(
        allmasks.join(F.broadcast(coal), "mask", "left")
        .select(
            "mask",
            "w",
            F.coalesce(F.col("n_j"), F.lit(0)).alias("n_j"),
            F.expr(
                "CAST(CASE WHEN n_j > 0 THEN (1000000 * n_conv) div n_j"
                " ELSE 0 END AS BIGINT)"
            ).alias("v_micro"),
        )
    )
    chans = local_df(
        spark, list(_SHAP_CHANNELS), "channel STRING, bit INT"
    )
    s_side = v.select(
        F.col("mask").alias("s_mask"),
        F.col("w").alias("s_w"),
        F.col("v_micro").alias("v_s"),
    )
    si_side = v.select(
        F.col("mask").alias("si_mask"), F.col("v_micro").alias("v_si")
    )
    marg = (
        chans.crossJoin(F.broadcast(s_side))
        .where(F.expr("(s_mask & bit) = 0"))
        .join(F.broadcast(si_side), F.expr("si_mask = s_mask + bit"))
    )
    touched = (
        chans.crossJoin(F.broadcast(v))
        .where(F.expr("(mask & bit) != 0"))
        .groupBy("channel")
        .agg(F.sum("n_j").cast("bigint").alias("n_journeys_touched"))
    )
    return (
        marg.groupBy("channel")
        .agg(
            F.expr("CAST(sum(s_w * (v_si - v_s)) AS BIGINT)").alias(
                "shapley_x24_micro"
            )
        )
        .join(touched, "channel")
        .orderBy("channel")
    )


def _shapley_sql() -> str:
    chan_vals = ", ".join(f"('{c}', {b})" for c, b in _SHAP_CHANNELS)
    mask_vals = ", ".join(f"({s}, {_SHAP_W[s]})" for s in range(2**_SHAP_N))
    arms = " ".join(
        f"WHEN event_type = '{c}' THEN {b}" for c, b in _SHAP_CHANNELS
    )
    return f"""
    WITH journeys AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(bit_or(CASE {arms} ELSE 0 END) AS INT) AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    coal AS (
        SELECT mask, CAST(count(*) AS BIGINT) AS n_j,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM journeys GROUP BY mask
    ),
    allmasks(mask, w) AS (
        SELECT CAST(mask AS INT), CAST(w AS BIGINT)
        FROM (VALUES {mask_vals}) t(mask, w)
    ),
    v AS (
        SELECT a.mask, a.w, coalesce(c.n_j, 0) AS n_j,
               CAST(CASE WHEN coalesce(c.n_j, 0) > 0
                    THEN (1000000 * c.n_conv) // c.n_j
                    ELSE 0 END AS BIGINT) AS v_micro
        FROM allmasks a LEFT JOIN coal c USING (mask)
    ),
    chans(channel, bit) AS (
        SELECT channel, CAST(bit AS INT)
        FROM (VALUES {chan_vals}) t(channel, bit)
    ),
    marg AS (
        SELECT ch.channel, s.w AS s_w, s.v_micro AS v_s,
               si.v_micro AS v_si
        FROM chans ch
        JOIN v s ON (s.mask & ch.bit) = 0
        JOIN v si ON si.mask = s.mask + ch.bit
    ),
    touched AS (
        SELECT ch.channel, CAST(sum(v.n_j) AS BIGINT)
                   AS n_journeys_touched
        FROM chans ch JOIN v ON (v.mask & ch.bit) != 0
        GROUP BY ch.channel
    )
    SELECT m.channel,
           CAST(sum(s_w * (v_si - v_s)) AS BIGINT) AS shapley_x24_micro,
           t.n_journeys_touched
    FROM marg m JOIN touched t ON m.channel = t.channel
    GROUP BY m.channel, t.n_journeys_touched
    ORDER BY m.channel
"""


_SHAPLEY_SQL = _shapley_sql()


QUERIES = {
    "event_transition_matrix": event_transition_matrix,
    "markov_attribution": markov_attribution,
    "events_session_window_native": events_session_window_native,
    "timed_event_funnel": timed_event_funnel,
    "multi_touch_attribution": multi_touch_attribution,
    "purchase_attribution_asof": purchase_attribution_asof,
    "click_conversion_asof": click_conversion_asof,
    "events_sessionize": events_sessionize,
    "peak_concurrent_sessions": peak_concurrent_sessions,
    "user_event_trigrams": user_event_trigrams,
    "repeat_purchase_hazard": repeat_purchase_hazard,
    "range_join_order_activity": range_join_order_activity,
    "shapley_channel_attribution": shapley_channel_attribution,
}

ORACLES = {
    "event_transition_matrix": _TRANSITION_SQL,
    "markov_attribution": _MARKOV_SQL,
    "events_session_window_native": _SESSION_NATIVE_SQL,
    "timed_event_funnel": _TIMED_FUNNEL_SQL,
    "multi_touch_attribution": _MULTI_TOUCH_SQL,
    "purchase_attribution_asof": _ASOF_SQL,
    "click_conversion_asof": _FORWARD_ASOF_SQL,
    "events_sessionize": _SESSIONIZE_SQL,
    "peak_concurrent_sessions": _PEAK_CONCURRENCY_SQL,
    "user_event_trigrams": _TRIGRAM_SQL,
    "repeat_purchase_hazard": _HAZARD_SQL,
    "range_join_order_activity": _RANGE_JOIN_SQL,
    "shapley_channel_attribution": _SHAPLEY_SQL,
}
