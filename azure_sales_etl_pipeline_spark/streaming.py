"""Structured Streaming variants of the incremental operators
(SURVEY.md §2.7): the reference implements watermark/incremental
semantics as hand-rolled batch micro-orchestration; this module
expresses the same concepts Spark-natively — ``readStream`` sources,
event-time tumbling/sliding windows with ``withWatermark``, and a
``foreachBatch`` ingestion sink with checkpoint-based exactly-once.

Batch parity: every streaming aggregation here has an identical batch
formulation (the driver oracles check the streaming results against
plain SQL over the same files — legal because Trigger.AvailableNow
drains the full source deterministically).

Scale notes: state size for windowed aggs is bounded by watermark
horizon × key cardinality; shuffles partition on (window, keys) exactly
like the batch groupBy. ``foreachBatch`` reuses the batch writer, so
the evolving-append shim works unchanged under streaming.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import local_df

from .catalog import table_exists, table_path
from .operators.rounds import cut


def _stream_csv_source(spark: SparkSession, schema, source_glob: str) -> DataFrame:
    """Shared headered-CSV readStream for every file-landing stream.

    multiLine + RFC-4180 doubled-quote escape so free-text columns
    (``documents.text`` may embed newlines/quotes) survive the CSV
    landing intact instead of being torn into extra rows — matches the
    ``quoteAll`` writer in ``_fold_parity_batches``. multiLine costs
    per-file split parallelism, which is irrelevant for micro-batch
    landing files (each is one small file)."""
    return (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(source_glob)
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (ns timestamps → µs, same as
    catalog.load_table)."""
    path = table_path(sf_dir, "events")
    # Runtime-settable legacy conf: events.ts is TIMESTAMP(NANOS); without
    # this a vanilla (caller-supplied) session dies with PARQUET_TYPE_ILLEGAL.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # File streaming sources need a directory: stream the sf dir with a
    # glob filter selecting just the events file(s).
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(src.dtypes).get("ts") == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ; session tz is UTC so the
        # cast is value-preserving (same normalization as catalog.load_table).
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def _drain_to_memory(
    agg: DataFrame, name: str, mode: str = "complete",
    partitions: str | None = None,
    provider: str | None = None,
) -> None:
    """Run an AvailableNow pass into a memory sink and wait for drain.

    Stateful operators create one state store PER shuffle partition per
    stateful exec (a stream-stream join holds four) — and each store
    carries fixed snapshot/maintenance overhead every micro-batch. The
    batch-side default (32 here, thousands on a cluster) is sized for
    shuffle *throughput*, not store count: measured 4x slowdown for the
    band join at 32 vs 8 partitions on this workload. So streaming
    queries get their own partition count, env-tunable: size it to
    (distinct keys in state) / (target rows per store) with enough
    partitions to spread across executors — NOT to the batch shuffle
    width.
    """
    sess = agg.sparkSession
    prev = sess.conf.get("spark.sql.shuffle.partitions")
    # Per-query default: state-store-bound ops (stream-stream joins,
    # windowed aggs) want FEW stores (8 — measured 4x slowdown at 32);
    # Python-state folds (applyInPandasWithState) are Python-worker
    # bound and measured fastest at 16 (2.4 s vs 2.8 s at 8, sf0.1) —
    # callers pass the family's number; the env var overrides both.
    sess.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", partitions or "8"),
    )
    # State-store provider is env-switchable (r8 verdict item 4): the
    # default HDFSBackedStateStoreProvider keeps every key's state as
    # JVM objects on-heap — fine for bounded test state, but at 100 TB
    # keyed state (dedup fingerprints, open sessions, join buffers)
    # must spill; RocksDBStateStoreProvider keeps state off-heap +
    # on-disk with incremental checkpointing. Value: "rocksdb", a full
    # provider class name, or unset for the Spark default. Streaming
    # semantics are provider-independent — pinned by the pytest matrix
    # in tests/test_streaming_multimodal.py.
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    # caller-required provider (transformWithState only supports
    # RocksDB) beats the env default; env still wins when set
    provider = os.environ.get("SPARK_GRAFT_STATE_STORE", "") or (provider or "")
    prev_provider = sess.conf.get(_PROVIDER_KEY, None)
    if provider:
        sess.conf.set(_PROVIDER_KEY, _ROCKSDB if provider == "rocksdb" else provider)
    try:
        sess.catalog.dropTempView(name)  # idempotent reruns
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _publish_late_metrics(sess, name, q)
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", prev)
        if provider:
            if prev_provider is None:
                sess.conf.unset(_PROVIDER_KEY)
            else:
                sess.conf.set(_PROVIDER_KEY, prev_provider)


def _harvest_progress(q) -> tuple[int, int]:
    """(input_rows, rows_dropped_late) summed over a query's recent
    progress. ``numRowsDroppedByWatermark`` is Spark's own per-stateful-
    operator count of inputs discarded for arriving behind the
    watermark — the silent-loss number a production stream must expose
    (r7 verdict item 8)."""
    import json as _json

    inputs = 0
    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        inputs += int(d.get("numInputRows") or 0)
        for so in d.get("stateOperators") or []:
            dropped += int(so.get("numRowsDroppedByWatermark") or 0)
    return inputs, dropped


def _harvest_state_provider(q) -> str:
    """Which state-store provider the drained query actually ran on:
    'rocksdb' if any stateful operator reported RocksDB custom metrics,
    'hdfs' for the default on-heap store, 'none' for stateless streams.
    Published with the late metrics so the provider matrix test asserts
    the switch ENGAGED rather than silently running the default."""
    import json as _json

    saw_state = False
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        for so in d.get("stateOperators") or []:
            saw_state = True
            if any("rocksdb" in k.lower() for k in (so.get("customMetrics") or {})):
                return "rocksdb"
    return "hdfs" if saw_state else "none"


def _publish_late_metrics(sess: SparkSession, name: str, q) -> None:
    """Surface late-data observability for a drained stream as the
    ``<name>_late_metrics`` temp view (stream, input_rows,
    rows_dropped_late) next to the result table itself."""
    inputs, dropped = _harvest_progress(q)
    local_df(
        sess,
        [(name, inputs, dropped, _harvest_state_provider(q))],
        "stream string, input_rows bigint, rows_dropped_late bigint,"
        " state_provider string",
    ).createOrReplaceTempView(f"{name}_late_metrics")


def stream_late_metrics(spark: SparkSession, name: str) -> DataFrame:
    """Read the late-data metrics view published when ``<name>`` was
    drained (every withWatermark-based stream_* query publishes one)."""
    return spark.table(f"{name}_late_metrics")


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts per event_type with a 1-hour
    watermark — the canonical streaming aggregation. Complete output
    mode so closed AND open windows land in the sink (AvailableNow
    drains everything; watermarking still bounds state)."""
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _drain_to_memory(agg, "stream_tumbling_counts")
    # Memory sink is already a driver-side temp view; return it directly
    # (no extra collect+recreate). At scale the sink would be files/noop —
    # the memory sink is for tests/driver queries only.
    return spark.table("stream_tumbling_counts")


STREAM_TUMBLING_SQL = """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY ALL
"""


def stream_sliding_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour, per user: each event contributes
    to two overlapping windows (the oracle unions the two shifted
    bucket alignments)."""
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
        )
    )
    _drain_to_memory(agg, "stream_sliding_user_activity")
    return spark.table("stream_sliding_user_activity")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows (30-minute gap) per user — Spark's
    native ``session_window`` stateful operator: windows grow while
    events keep arriving within the gap and close when the watermark
    passes end. Append mode (session windows cannot use complete: state
    would be unbounded), so only WATERMARK-CLOSED sessions are emitted —
    the oracle applies the same cut (session_end ≤ final watermark =
    max(ts) - 1 hour), making the late-data semantics itself the thing
    the oracle checks."""
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    _drain_to_memory(agg, "stream_session_windows", mode="append")
    return spark.table("stream_session_windows")


# Islands formulation of session_window: a session's end is last event +
# gap; only sessions closed by the final watermark (max ts - 1h) appear,
# because append mode emits state strictly below the watermark.
STREAM_SESSION_SQL = """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
        FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, session_seq
    HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
"""


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the dimension-enrichment pattern every
    production stream needs (events arrive keyed; reporting wants them
    by customer segment). The static side is a plain batch DataFrame:
    Spark re-plans it per micro-batch (so a slowly-refreshing dim picks
    up changes between batches) and — crucially — the join is
    STATELESS: unlike a stream-stream join there is no join buffer, no
    watermark bookkeeping, no state store; each micro-batch hash-joins
    against the dim and moves on. With the dim explicitly broadcast the
    streaming side never shuffles for the join at all — at 100 TB/day
    of events the only shuffle is the final segment-grain aggregate
    (map-side combined, |segments|×|types| rows of state).

    Left join + UNKNOWN default so a user missing from the dimension
    surfaces as a labeled bucket rather than silently dropping revenue
    (the same orphan-visibility stance as `referential_integrity_audit`)."""
    from .catalog import load_table

    src = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    cents = F.expr("CAST(round(CAST(value AS DECIMAL(18,4)), 2) * 100 AS BIGINT)")
    agg = (
        src.join(F.broadcast(dim), "user_id", "left")
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("mktsegment"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("value_cents"),
        )
    )
    _drain_to_memory(agg, "stream_static_enrichment")
    return spark.table("stream_static_enrichment")


STREAM_STATIC_SQL = """
    SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
           e.event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(CAST(e.value AS DECIMAL(18,4)), 2) * 100
                         AS BIGINT)) AS BIGINT) AS value_cents
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
"""


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time band: every
    (click, purchase) pair for the same user where the click happened in
    the hour before the purchase. Both sides carry watermarks and the
    join condition bounds event time on both, so Spark can size the join
    state and evict rows once the watermark passes — the state-bounded
    form of streaming attribution. Inner join: all matching pairs are
    emitted regardless of watermark progress (the watermark only gates
    state eviction), so the batch SQL join is the exact oracle."""
    src = _events_stream(spark, sf_dir)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts > purchase_ts - INTERVAL 1 HOUR
            """
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    _drain_to_memory(joined, "stream_click_purchase_join", mode="append")
    return spark.table("stream_click_purchase_join")


STREAM_JOIN_SQL = """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 1 HOUR
"""


def stream_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the state-EVICTION semantics the
    inner join never exercises: purchases left-join the clicks of the
    preceding hour; a purchase with no attributable click emits its
    null-padded row only when the watermark passes the point where a
    matching click could still arrive. Purchases as the left side makes
    that point the purchase's own event time (clicks must precede the
    purchase), so the outer cut is clean: matched pairs emit eagerly
    (same as the inner join); null rows appear exactly for unmatched
    purchases older than the final watermark. The oracle applies the
    same cut — the eviction boundary itself is what's hash-checked."""
    src = _events_stream(spark, sf_dir)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts > purchase_ts - INTERVAL 1 HOUR
            """
        ),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    _drain_to_memory(joined, "stream_click_purchase_outer", mode="append")
    return spark.table("stream_click_purchase_outer")


# Outer cut: matched pairs carry no watermark condition (emitted
# eagerly); null rows appear for unmatched purchases strictly older
# than the final global watermark = min(per-side max event time) - 2h
# (the watermark is the min across inputs; strict `<` per the engine's
# watermark convention — see SCALE.md late-boundary row).
STREAM_OUTER_SQL = """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         wm AS (
            SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                   - INTERVAL 2 HOUR AS w
         )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 1 HOUR
    UNION ALL
    SELECT p.event_id, NULL, p.user_id, p.ts, NULL
    FROM p, wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
      )
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup by event key: ``dropDuplicates`` on
    ``event_id`` with an event-time watermark bounding the key-tracking
    state. This is how a 100 TB ingest survives at-least-once upstream
    delivery (Kafka replays, file re-lands): every key is remembered
    only until the watermark passes its event time, so state is
    O(keys-per-watermark-window), not O(all keys ever).

    The driver testdata has unique ``event_id``s, so the batch DISTINCT
    oracle is exact; the duplicate-removal semantics themselves are
    pytest-covered with a planted-replay two-file stream
    (tests/test_streaming.py).
    """
    src = _events_stream(spark, sf_dir)
    deduped = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "ts", "event_type")
    )
    _drain_to_memory(deduped, "stream_dedup_events", mode="append")
    return spark.table("stream_dedup_events")


STREAM_DEDUP_SQL = """
    SELECT DISTINCT event_id, user_id, ts, event_type FROM events
"""


def stream_user_totals_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running totals held in an explicit state object the
    operator owns — the escape hatch when the built-in stateful ops
    (windowed agg, dropDuplicates, stream joins) can't express the
    semantics (per-key models, custom eviction, cross-batch sequences).

    Each micro-batch delivers a user's rows as Arrow-backed pandas
    frames; the handler folds them into (n_events, total_value, last_ts)
    state and emits the updated row. State lives in the state store keyed
    by user — partitioned across executors, nothing driver-side, so the
    operator scales with the key space like any keyed agg.

    Update mode emits one row per user per micro-batch it appears in;
    the final emission carries the cumulative totals, so after draining
    we keep only each user's LAST update (max n_events — strictly
    increasing per user across batches). That makes the batch GROUP BY
    an exact oracle regardless of how the source splits into
    micro-batches (multiple files / maxFilesPerTrigger), not just in
    the single-batch AvailableNow case (ADVICE r3).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    src = _events_stream(spark, sf_dir).select("user_id", "ts", "value")

    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        last_ts = None
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_ts": [last_ts],
            }
        )

    folded = (
        src.groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain_to_memory(
        folded, "stream_user_totals_custom_state", mode="update",
        partitions="16",  # Python-state fold: worker-bound, not store-bound
    )
    from pyspark.sql.window import Window

    sink = spark.table("stream_user_totals_custom_state")
    last = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(last))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def streaming_curation_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming CURATION-FUNNEL upkeep: each arriving document batch
    folds its per-fingerprint funnel state into ONE persisted table —
    additive counters (rows, quality passes, quality+lang passes) fold
    by sum; the funnel's dedup decision ("which copy of this content
    does the corpus keep, preferring a quality+lang survivor, then the
    lowest doc_id") folds as an ARGMIN over the composite rank
    ``(1-ql_ok)·10¹² + doc_id`` packed in a struct with the kept row's
    attributes — min over structs is an idempotent commutative monoid,
    so stream(batches) ≡ batch(union) EXACTLY, for any batch split,
    and the one-shot [[curation_funnel]] SQL is the oracle. Single
    state table → single commit marker → the replay protection shared
    with ``streaming_mart`` covers the whole fold atomically.

    At 100 TB the state is one row per DISTINCT content — the
    fingerprint-index size class, orders of magnitude under the raw
    corpus — and each batch costs one fingerprint-key shuffle over the
    BATCH plus a narrow state re-union (the `merge_aggregate`
    contract); history text is never re-read."""
    from .operators.maintenance import merge_aggregate
    from .plans.mlprep import _funnel_flags

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        flags = _funnel_flags(batch_df)
        ql = F.col("keep") & (F.col("predicted_lang") == "en")
        staged = flags.select(
            "fingerprint",
            F.struct(
                (
                    F.when(ql, 0).otherwise(1).cast("bigint")
                    * F.lit(1_000_000_000_000)
                    + F.col("doc_id")
                ).alias("rank"),
                ql.alias("kept_ql"),
                F.col("split").alias("kept_split"),
            ).alias("best"),
            F.when(F.col("keep"), 1).otherwise(0).alias("nq"),
            F.when(ql, 1).otherwise(0).alias("nl"),
        )
        merge_aggregate(
            spark,
            state_path,
            staged,
            keys=["fingerprint"],
            sums=["nq", "nl"],
            mins=["best"],
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def curation_funnel_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Project the persisted curation state into the one-shot
    [[curation_funnel]] row shape: totals from the additive sums,
    unique/train from each fingerprint's kept (argmin) attributes."""
    from .operators.writer import read_table

    st = read_table(spark, state_path)
    return st.agg(
        F.sum("n_rows").cast("bigint").alias("n_total"),
        F.sum("nq").cast("bigint").alias("n_quality"),
        F.sum("nl").cast("bigint").alias("n_lang"),
        F.count(F.when(F.col("best.kept_ql"), 1))
        .cast("bigint")
        .alias("n_unique"),
        F.count(
            F.when(
                F.col("best.kept_ql") & (F.col("best.kept_split") == "train"),
                1,
            )
        )
        .cast("bigint")
        .alias("n_train"),
    )


def stream_curation_funnel_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form of ``streaming_curation_monitor``: land the
    documents table as two parity micro-batches, fold each into a
    fresh persisted funnel state, and report — under the BATCH
    [[curation_funnel]] oracle, because the counters are additive and
    the dedup decision is an argmin monoid: the streamed funnel must
    equal the one-shot funnel exactly or the driver hash fails. This
    is the curation counterpart of [[stream_token_stats_fold]]'s
    index-maintains-itself story: the corpus health report maintains
    itself as the crawl lands."""
    import shutil

    from .catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_funnel_")
    try:
        state = _fold_parity_batches(
            spark,
            docs,
            "doc_id",
            ["doc_id", "text"],
            "doc_id bigint, text string",
            tmp,
            lambda glob, schema, state, ckpt: streaming_curation_monitor(
                spark, glob, schema, state, checkpoint=ckpt
            ),
        )
        return cut(curation_funnel_report(spark, state))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4.x StatefulProcessor API that supersedes
    ``applyInPandasWithState`` ([[stream_user_totals_custom_state]] is
    the legacy-API twin; both under the SAME batch GROUP BY oracle, so
    the two APIs are driver-verified to agree). What the new API adds
    at scale: named, independently-evolvable state variables
    (``getValueState``/``getListState``/``getMapState`` on the handle
    instead of one monolithic tuple), timers for event/processing-time
    eviction, and initial-state bootstrap — the building blocks of a
    production keyed-state operator. State here is one ValueState of
    (n_events, total_value, last_us).

    Runs on the RocksDB state store (the API requires it — also the
    100 TB-correct provider: off-heap, on-disk, incremental
    checkpoints; see SCALE.md r9 provider section). Same scale shape
    as the legacy twin: state partitioned by user across executors,
    nothing driver-side; Python-worker bound, 16 stream partitions
    (SCALE.md r12)."""
    import pandas as pd

    # The StatefulProcessor wire protocol is protobuf-based
    # (pyspark/sql/streaming/proto/StateMessage_pb2): without
    # google.protobuf the TWS driver worker crashes at init with an
    # opaque STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. Fail fast
    # with the actionable message instead; the container this engine is
    # developed in lacks protobuf, so the query is kept OUT of the
    # driver registry (plans/streams.py) and its pytest skips.
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ModuleNotFoundError(
            "transformWithStateInPandas requires the 'protobuf' package"
            " (pyspark's StatefulProcessor state server speaks protobuf);"
            " install protobuf to run stream_user_totals_tws"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    src = _events_stream(spark, sf_dir).select("user_id", "ts", "value")

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_value double, last_us long"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                n, total, last_us = self._state.get()
            else:
                n, total, last_us = 0, 0.0, None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_us = int(pd.Timestamp(pdf["ts"].max()).value) // 1000
                last_us = batch_us if last_us is None else max(last_us, batch_us)
            self._state.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    folded = src.groupBy("user_id").transformWithStateInPandas(
        _Totals(),
        outputStructType=(
            "user_id bigint, n_events bigint,"
            " total_value double, last_us bigint"
        ),
        outputMode="Update",
        timeMode="None",
    )
    _drain_to_memory(
        folded, "stream_user_totals_tws", mode="update",
        partitions="16", provider="rocksdb",
    )
    from pyspark.sql.window import Window

    sink = spark.table("stream_user_totals_tws")
    last = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(last))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.timestamp_micros(F.col("last_us")).alias("last_ts"),
        )
    )


STREAM_CUSTOM_STATE_SQL = """
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(ts) AS last_ts
    FROM events
    GROUP BY user_id
"""


def _drain_transition_fold(src: DataFrame, name: str) -> None:
    """Keyed-state fold emitting per-batch TRANSITION-PAIR deltas: each
    user's state is (last_ts_micros, last_event_type); a micro-batch's
    rows are sorted by (ts, event_id), the boundary pair
    (state.last → batch.first) plus all intra-batch consecutive pairs
    are counted, and ONE delta row per (prev, next) pair is emitted.
    Deltas are mergeable (plain sums), so the sink aggregation is
    batch-split-independent.

    Ordering contract: cross-batch correctness assumes each new batch's
    events for a user are STRICTLY AFTER the user's state position in
    (ts, event_id) order — the ordered-log property a Kafka-partition
    or landing-sequence source provides (the same assumption every
    streaming sessionizer makes). A later batch delivering an event
    that sorts BEFORE the state position cannot be re-ordered against
    pairs already emitted (that needs buffering, i.e. a watermark); the
    state carries (last_ts, last_event_id) so the boundary position is
    the full sort key, and equal-ts boundary events still order
    correctly when their ids respect the log order. Within a batch,
    order is irrelevant (the handler sorts); the multi-batch pytest
    feeds time-split files via maxFilesPerTrigger to pin the
    boundary-pair path."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("last_ts_micros", LongType()),
            StructField("last_event_id", LongType()),
            StructField("last_type", StringType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("prev_type", StringType()),
            StructField("next_type", StringType()),
            StructField("n", LongType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        from collections import Counter

        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"])
        types = rows["event_type"].tolist()
        seq = ([state.get[2]] if state.exists else []) + types
        pair_counts = Counter(zip(seq, seq[1:]))
        last = rows.iloc[-1]
        state.update(
            (
                int(last["ts"].value) // 1000,
                int(last["event_id"]),
                types[-1],
            )
        )
        if pair_counts:
            keys = list(pair_counts)
            yield pd.DataFrame(
                {
                    "prev_type": [a for a, _ in keys],
                    "next_type": [b for _, b in keys],
                    "n": [pair_counts[k] for k in keys],
                }
            )

    folded = src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain_to_memory(
        folded, name, mode="update",
        partitions="16",  # Python-state fold: worker-bound, not store-bound
    )


def _transition_counts(pairs: DataFrame) -> DataFrame:
    """Fold the emitted pair deltas and apply the batch query's OWN
    final projection (`plans.temporal.transition_matrix_projection`) —
    shared code, because this streamed result is oracled by the batch
    SQL and a drifting copy would fail only as a driver hash."""
    from .plans.temporal import transition_matrix_projection

    agg = pairs.groupBy("prev_type", "next_type").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )
    return transition_matrix_projection(agg)


def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition matrix — the incremental twin of
    the batch `event_transition_matrix`, maintained by a custom
    keyed-state operator instead of a lag window (streams can't lag:
    the previous event may be in a batch processed minutes ago). Each
    user's last event type lives in the state store; micro-batches emit
    mergeable pair-count DELTAS whose sum equals the batch answer for
    any batch split that respects per-user arrival order — so the
    batch window query is the value oracle, and the multi-batch
    boundary path is pinned by pytest with time-split file feeds.

    Scale: state is ONE tiny row per user (the sessionizer's footprint,
    watermark-evictable if the key space grows unbounded); emission is
    ≤ |types|² rows per user-batch, the sink fold is a map-side-combined
    count — nothing driver-side."""
    src = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    _drain_transition_fold(src, "stream_transition_matrix")
    return _transition_counts(spark.table("stream_transition_matrix"))


STREAM_SLIDING_SQL = """
    WITH assigned AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, user_id FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, user_id FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           user_id,
           count(*) AS n_events
    FROM assigned
    GROUP BY ALL
"""


def streaming_ingest(
    spark: SparkSession,
    source_glob: str,
    schema,
    bronze_path: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming Landing→Bronze: file-source readStream + foreachBatch
    into the schema-evolving append writer. The checkpoint makes file
    processing exactly-once across restarts — the streaming-native form
    of the reference's watermark bookkeeping (T1)."""
    from .operators.writer import append_evolve

    checkpoint = checkpoint or tempfile.mkdtemp(prefix="stream_ckpt_")
    src = _stream_csv_source(spark, schema, source_glob)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_evolve(spark, batch_df, bronze_path)

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_mart(
    spark: SparkSession,
    source_glob: str,
    schema,
    mart_path: str,
    keys: list[str],
    sums: list[str],
    checkpoint: str | None = None,
) -> None:
    """Streaming gold-mart upkeep: each micro-batch folds into the mart
    via ``operators.maintenance.merge_aggregate`` — the streaming-native
    replacement for the reference's full gold rebuild per run
    (3_Silver_to_Gold.py:60-133). Because merge_aggregate only accepts
    mergeable (commutative-monoid) aggregates, batches compose
    associatively: stream(batches) ≡ batch(union) exactly
    (tests/test_streaming_scd2.py). History is never re-scanned; each
    batch costs one shuffle of the batch plus a read of the (small)
    mart.

    Replay protection: ``foreachBatch`` is at-least-once, and folding a
    sum twice is NOT idempotent — so the sink records
    (checkpoint, batch_id) in a commit marker stored INSIDE the mart
    table and committed by the SAME atomic pointer flip that commits
    the mart version (``overwrite_table(commit_meta=...)``). Mart data
    and folded-batch id can therefore never disagree: a crash at any
    point leaves either the old version (old marker — restart refolds
    the batch, correctly) or the new version (new marker — restart
    skips, correctly). There is no window where the batch is folded but
    unrecorded, and no torn marker file. A DIFFERENT checkpoint against
    an existing mart is refused loudly: with fresh stream state every
    file would replay into already-folded aggregates.
    """
    from .operators.maintenance import merge_aggregate

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        merge_aggregate(
            spark, mart_path, batch_df, keys=keys, sums=sums, commit_meta=commit_meta
        )

    _streaming_fold(spark, source_glob, schema, mart_path, checkpoint, fold)


def streaming_sketch_mart(
    spark: SparkSession,
    source_glob: str,
    schema,
    mart_path: str,
    keys: list[str],
    distinct_col: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming DISTINCT-count mart on mergeable DataSketches-HLL
    state (``operators.maintenance.merge_sketch_distinct``) — streaming
    distinct users per key WITHOUT unbounded streaming state: each
    micro-batch folds its sketch into the mart, so the stream's own
    state is just the file-source checkpoint while the mart carries one
    bounded sketch per key. The declarative alternative
    (``approx_count_distinct`` in update mode) holds per-key state
    inside the state store and can't be queried between triggers; the
    foldable mart is readable at any time with
    ``hll_sketch_estimate``. Replay protection is shared with
    ``streaming_mart`` (``_streaming_fold``); strictly, re-unioning a
    redelivered batch's sketch would even be harmless (sketch union is
    idempotent, unlike sums), but the shared marker keeps the replay
    semantics uniform across mart kinds and the mart version
    monotonic."""

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        from .operators.maintenance import merge_sketch_distinct

        merge_sketch_distinct(
            spark,
            mart_path,
            batch_df,
            keys=keys,
            distinct_col=distinct_col,
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, mart_path, checkpoint, fold)


def streaming_dedup_index(
    spark: SparkSession,
    source_glob: str,
    schema,
    index_path: str,
    checkpoint: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming cross-batch exact dedup: each micro-batch of arriving
    documents folds into the persisted fingerprint index
    (``operators.maintenance.merge_fingerprint_index``) — the streaming
    form of the curation pipeline's dedup stage, with NO unbounded
    streaming state: the stream's own state is just the file-source
    checkpoint, while the index carries one row per distinct content
    ever seen. The declarative alternative (``dropDuplicates`` on the
    fingerprint) holds every fingerprint in the state store forever and
    loses it when the query is rebuilt; the index is a queryable table
    that batch jobs share.

    Replay protection matters here: re-folding a redelivered batch
    would double-count ``dup_count`` (the fold is NOT idempotent, same
    class as ``streaming_mart``'s sums), so the shared
    ``_streaming_fold`` marker commits (checkpoint, batch_id) inside
    the same atomic pointer flip as the index version."""

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        from .operators.maintenance import merge_fingerprint_index

        merge_fingerprint_index(
            spark,
            index_path,
            batch_df,
            id_col=id_col,
            text_col=text_col,
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, index_path, checkpoint, fold)


def streaming_drift_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    value_col: str,
    ts_col: str,
    split_ts,
    bin_width: float,
    checkpoint: str | None = None,
) -> None:
    """Streaming distribution-drift upkeep — the incremental path for
    ``order_drift_histogram``'s 100 TB story: instead of re-scanning
    both corpus snapshots per check, each arriving micro-batch folds
    its per-bin before/after counts into a persisted drift state
    (``merge_aggregate`` on the bin key), so the state table is
    |bins| rows forever and the full history is never re-read.
    Indicator columns (0/1 per period) turn the period split into two
    mergeable sums — exactly the conditional-count rewrite the batch
    query uses, made associative so stream(batches) ≡ batch(union).
    Read the current drift anytime with ``drift_report``. Replay
    protection shared with ``streaming_mart`` (``_streaming_fold``
    commit marker: a redelivered batch would double-count)."""
    from .operators.maintenance import merge_aggregate

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        split = F.col(ts_col) < F.lit(split_ts).cast("timestamp")
        binned = batch_df.select(
            F.floor(F.col(value_col) / bin_width).cast("bigint").alias("bin_id"),
            F.when(split, 1).otherwise(0).alias("n_before"),
            F.when(split, 0).otherwise(1).alias("n_after"),
        )
        merge_aggregate(
            spark,
            state_path,
            binned,
            keys=["bin_id"],
            sums=["n_before", "n_after"],
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def drift_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Project the persisted drift state into the same shape as the
    batch ``order_drift_histogram``: per-bin counts, integer-permille
    shares of each period's total, and absolute share drift. Pure
    derivation over |bins| rows — no fact scan."""
    from .operators.writer import read_table

    bins = read_table(spark, state_path).select("bin_id", "n_before", "n_after")
    totals = bins.agg(
        F.sum("n_before").alias("tot_before"), F.sum("n_after").alias("tot_after")
    )
    share_b = F.expr("n_before * 1000 DIV tot_before")
    share_a = F.expr("n_after * 1000 DIV tot_after")
    return bins.crossJoin(F.broadcast(totals)).select(
        "bin_id",
        F.col("n_before").cast("bigint").alias("n_before"),
        F.col("n_after").cast("bigint").alias("n_after"),
        share_b.cast("bigint").alias("share_before_permille"),
        share_a.cast("bigint").alias("share_after_permille"),
        F.abs(share_b - share_a).cast("bigint").alias("drift_permille"),
    )


def _fold_parity_batches(
    spark: SparkSession,
    df: DataFrame,
    parity_col: str,
    batch_cols: list[str],
    schema,
    tmp: str,
    run_monitor,
) -> str:
    """Shared driver-query harness: land ``df`` as two CSV micro-batches
    (even ``parity_col`` keys, then odd), invoking ``run_monitor(glob,
    schema, state, ckpt)`` after each landing. Returns the state path.
    One copy of the replay-sensitive landing choreography serves every
    stream_* driver query — a change to the batching (a third batch, a
    different split) cannot reach one query and miss the others."""
    src = f"{tmp}/src"
    state = f"{tmp}/state"
    ckpt = f"{tmp}/ckpt"
    for name, parity in (("b1", 0), ("b2", 1)):
        (
            df.where(F.col(parity_col) % 2 == parity)
            .select(*batch_cols)
            .coalesce(1)
            # quoteAll + doubled-quote escape + whitespace preservation:
            # free-text batch columns round-trip through the landing
            # (read back by _stream_csv_source with multiLine) even with
            # embedded newlines/quotes/delimiters. The writer-side
            # ignore*WhiteSpace options default to TRUE and would trim a
            # leading/trailing space or newline out of a quoted value.
            .write.option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(f"{src}/{name}")
        )
        run_monitor(f"{src}/*", schema, state, ckpt)
    return state


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form of ``streaming_drift_monitor``: land the
    orders fact as two CSV micro-batch files (even keys, then odd),
    fold each into a fresh persisted drift state through the
    foreachBatch monitor, and report the drift. Because the indicator
    counts are mergeable, stream(batch1)⊕stream(batch2) must equal the
    batch conditional-count histogram over ALL orders — so the oracle
    is ``order_drift_histogram``'s exact SQL, making the streamed fold
    driver-visibly equivalent to the batch query."""
    import shutil

    from .catalog import load_table
    from .plans.analytics import _DRIFT_SPLIT_DATE, _HIST_BIN_WIDTH

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    tmp = tempfile.mkdtemp(prefix="stream_drift_")
    try:
        state = _fold_parity_batches(
            spark,
            orders,
            "o_orderkey",
            ["o_totalprice", "o_orderdate"],
            "o_totalprice double, o_orderdate timestamp",
            tmp,
            lambda glob, schema, state, ckpt: streaming_drift_monitor(
                spark,
                glob,
                schema,
                state,
                value_col="o_totalprice",
                ts_col="o_orderdate",
                split_ts=_DRIFT_SPLIT_DATE,
                bin_width=_HIST_BIN_WIDTH,
                checkpoint=ckpt,
            ),
        )
        return cut(drift_report(spark, state))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_cms_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    key_col: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming count-min upkeep — the incremental path for
    ``cms_heavy_hitters``'s 100 TB story: each arriving micro-batch
    builds its partial d×w sketch (map-side combined — at most d·w
    rows leave the batch) and FOLDS it cell-wise into a persisted
    sketch state via ``merge_aggregate``. The sketch is linear, so the
    folded state is bit-identical to the single-pass sketch over the
    union of all batches — the state table is ≤ d·w rows forever and
    history is never re-read. Replay protection shared with
    ``streaming_mart`` (a redelivered batch would double-count)."""
    from .operators.maintenance import merge_aggregate
    from .plans.analytics import _cms_sketch

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        # The partial sketch IS the batch sketch — shared constructor, so
        # a change to the sketch shape (d, w, column names) cannot
        # desynchronize the streamed state from the batch oracle.
        partial = _cms_sketch(batch_df, key_col)
        merge_aggregate(
            spark,
            state_path,
            partial,
            keys=["r", "bucket"],
            sums=["c"],
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def cms_topk_report(
    spark: SparkSession, state_path: str, keys_df: DataFrame, key_col: str, k: int = 20
) -> DataFrame:
    """Project the persisted sketch state into top-k heavy-hitter
    estimates for the given candidate keys — the probe stage of
    ``cms_heavy_hitters`` over the STREAMED state. ≤ d·w state rows
    broadcast; no fact scan."""
    from .operators.writer import read_table
    from .plans.analytics import _cms_estimates

    sketch = read_table(spark, state_path).select("r", "bucket", "c")
    est = _cms_estimates(keys_df, sketch, key_col)
    return (
        est.select(
            F.col("k").alias("part_key"), F.col("est_count").cast("bigint")
        )
        .orderBy(F.desc("est_count"), F.asc("part_key"))
        .limit(k)
    )


def streaming_quality_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming upkeep of the MERGEABLE quality metrics from
    [[orders_quality_suite]]: each micro-batch folds its completeness /
    accepted-values / date-range counts (monoid sums) and cents bounds
    (min/max monoids) into a single persisted state row — quality gates
    answered from O(1) state instead of a table re-scan. The one
    non-mergeable check, key uniqueness (countDistinct), is deliberately
    absent: it needs either the full recompute or sketch state
    (``merge_sketch_distinct``), exactly the tradeoff the
    ``merge_aggregate`` docstring documents."""
    from .operators.maintenance import merge_aggregate

    cents = F.expr(
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 2) * 100 AS BIGINT)"
    )

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        staged = batch_df.select(
            F.lit("orders").alias("table_name"),
            F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias(
                "n_custkey"
            ),
            F.when(
                F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0).alias("n_status_ok"),
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
                1,
            ).otherwise(0).alias("n_date_bad"),
            cents.alias("min_cents"),
            cents.alias("max_cents"),
        )
        merge_aggregate(
            spark,
            state_path,
            staged,
            keys=["table_name"],
            sums=["n_custkey", "n_status_ok", "n_date_bad"],
            mins=["min_cents"],
            maxs=["max_cents"],
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def quality_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Project the folded quality state into the same (check, metric,
    lo, hi, passed) rows as the batch suite (minus the non-mergeable
    uniqueness check). One state row in, five rows out. Check names and
    bounds come from validate.ORDERS_MERGEABLE_CHECKS and the unpivot
    from validate.unpivot_checks — ONE definition serves the batch
    suite, this report, and both oracle texts."""
    from .operators.validate import ORDERS_MERGEABLE_CHECKS, unpivot_checks
    from .operators.writer import read_table

    st = read_table(spark, state_path)
    metric_cols = {
        "completeness_custkey_permille": F.expr(
            "(1000 * n_custkey) div n_rows"
        ),
        "min_totalprice_cents": F.col("min_cents"),
        "max_totalprice_cents": F.col("max_cents"),
        "status_accepted_permille": F.expr("(1000 * n_status_ok) div n_rows"),
        "orderdate_out_of_range": F.col("n_date_bad"),
    }
    one = st.select(
        *[
            metric_cols[name].alias(f"m_{i}")
            for i, (name, _, _) in enumerate(ORDERS_MERGEABLE_CHECKS)
        ]
    )
    return unpivot_checks(
        one,
        [
            (name, f"m_{i}", lo, hi)
            for i, (name, lo, hi) in enumerate(ORDERS_MERGEABLE_CHECKS)
        ],
    )


def stream_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form: land orders as two parity micro-batches,
    fold each through the streaming quality monitor, and report the
    five mergeable checks from the folded state. All five metrics are
    monoid folds, so streamed state == one-pass aggregate and the
    oracle recomputes the suite rows from raw orders in SQL."""
    import shutil

    from .catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tmp = tempfile.mkdtemp(prefix="stream_q_")
    try:
        state = _fold_parity_batches(
            spark,
            orders,
            "o_orderkey",
            ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
            "o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp",
            tmp,
            lambda glob, schema, state, ckpt: streaming_quality_monitor(
                spark, glob, schema, state, checkpoint=ckpt
            ),
        )
        return cut(quality_report(spark, state))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_STREAM_QUALITY_SQL = """
    WITH agg AS (
        SELECT CAST((1000 * count(o_custkey)) // count(*) AS BIGINT) AS m0,
               CAST(min(CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                             * 100 AS BIGINT)) AS BIGINT) AS m1,
               CAST(max(CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                             * 100 AS BIGINT)) AS BIGINT) AS m2,
               CAST((1000 * sum(CASE WHEN o_orderstatus IN ('O','F','P')
                                     THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
                   AS m3,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                               OR o_orderdate >= TIMESTAMP '2010-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT) AS m4
        FROM orders
    ),"""


def _stream_quality_sql() -> str:
    from .operators.validate import ORDERS_MERGEABLE_CHECKS, checks_rows_sql

    cols = {
        "completeness_custkey_permille": "m0",
        "min_totalprice_cents": "m1",
        "max_totalprice_cents": "m2",
        "status_accepted_permille": "m3",
        "orderdate_out_of_range": "m4",
    }
    return _STREAM_QUALITY_AGG_SQL + checks_rows_sql(
        [(n, cols[n], lo, hi) for n, lo, hi in ORDERS_MERGEABLE_CHECKS]
    )


_STREAM_QUALITY_AGG_SQL = _STREAM_QUALITY_SQL
_STREAM_QUALITY_SQL = _stream_quality_sql()


def psi_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Project the persisted drift state into per-bin PSI contributions
    — [[drift_psi]]'s formula (Laplace-smoothed shares, engine-exact
    series logarithm) over the STREAMED per-bin counts instead of a
    fact re-scan. |bins| rows in, |bins| rows out; no fact scan."""
    from .operators.writer import read_table
    from .plans.analytics import _PSI_TERM

    bins = read_table(spark, state_path).select("bin_id", "n_before", "n_after")
    totals = bins.agg(
        F.sum("n_before").alias("tot_before"),
        F.sum("n_after").alias("tot_after"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    return bins.crossJoin(F.broadcast(totals)).select(
        "bin_id",
        F.col("n_before").cast("bigint").alias("n_before"),
        F.col("n_after").cast("bigint").alias("n_after"),
        F.expr(_PSI_TERM).alias("psi_micro"),
    )


def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form: land orders as two parity micro-batches,
    fold them through the SAME streaming drift monitor state as
    [[stream_drift_monitor]], then report PSI from the folded state.
    Because the per-bin indicator counts are mergeable, the streamed
    state is identical to the batch conditional-count histogram — so
    the oracle is ``drift_psi``'s exact SQL: one persisted ≤|bins|-row
    state serves BOTH drift reports (L1 and PSI) without ever
    re-reading history."""
    import shutil

    from .catalog import load_table
    from .plans.analytics import _DRIFT_SPLIT_DATE, _HIST_BIN_WIDTH

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    tmp = tempfile.mkdtemp(prefix="stream_psi_")
    try:
        state = _fold_parity_batches(
            spark,
            orders,
            "o_orderkey",
            ["o_totalprice", "o_orderdate"],
            "o_totalprice double, o_orderdate timestamp",
            tmp,
            lambda glob, schema, state, ckpt: streaming_drift_monitor(
                spark,
                glob,
                schema,
                state,
                value_col="o_totalprice",
                ts_col="o_orderdate",
                split_ts=_DRIFT_SPLIT_DATE,
                bin_width=_HIST_BIN_WIDTH,
                checkpoint=ckpt,
            ),
        )
        return cut(psi_report(spark, state))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form of ``streaming_cms_monitor``: land the
    lineitem part keys as two CSV micro-batches (even keys, then odd),
    fold each partial sketch into a fresh persisted state, and probe
    the folded state for the top-20 heavy hitters. Because the sketch
    is LINEAR, stream(batch1)⊕stream(batch2) must equal the single-pass
    sketch — so the oracle is ``cms_heavy_hitters``'s exact SQL, making
    the linearity claim driver-visible, not just pytest-visible."""
    import shutil

    from .catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("bigint").alias("k")
    )
    keys = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("k")
    )
    tmp = tempfile.mkdtemp(prefix="stream_cms_")
    try:
        state = _fold_parity_batches(
            spark,
            li,
            "k",
            ["k"],
            "k bigint",
            tmp,
            lambda glob, schema, state, ckpt: streaming_cms_monitor(
                spark, glob, schema, state, key_col="k", checkpoint=ckpt
            ),
        )
        return cut(cms_topk_report(spark, state, keys, "k"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_kmv_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    key_col: str,
    checkpoint: str | None = None,
    k: int = 256,
) -> None:
    """Streaming K-minimum-values upkeep — the incremental path for
    ``kmv_distinct_estimate``: each micro-batch hashes its keys
    (15-hex sha256 slice, the engine-portable 60-bit stream) and folds
    its k smallest into persisted state via ``merge_kmin``. Min-union
    is exact sketch algebra, so the folded state — and therefore the
    distinct estimate — is bit-identical to the batch sketch over the
    union of all batches, which is why the batch query's SQL can
    oracle the streamed path verbatim."""
    from .operators.maintenance import merge_kmin

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        hashes = batch_df.select(
            F.substring(
                F.sha2(F.col(key_col).cast("string"), 256), 1, 15
            ).alias("h")
        )
        merge_kmin(spark, state_path, hashes, "h", k, commit_meta)

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed twin of ``kmv_distinct_estimate``: land the events
    table as two parity micro-batches, fold each into the persisted
    k-minimum-values state, then project the SAME estimate row the
    batch query produces (k, kth hash, estimate, exact count, realized
    error) — under the batch query's own oracle SQL, because min-union
    is exact: the streamed state must equal the one-shot sketch
    bit-for-bit or the driver hash fails. The exact-count column reads
    the batch table (the check the estimate is graded against), same
    as the batch query."""
    import shutil

    from .catalog import load_table
    from .operators.writer import read_table
    from .plans.analytics import _KMV_K, _kmv_estimate_exprs

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    tmp = tempfile.mkdtemp(prefix="stream_kmv_")
    try:
        state = _fold_parity_batches(
            spark,
            ev,
            "event_id",
            ["event_id", "user_id"],
            "event_id bigint, user_id bigint",
            tmp,
            lambda glob, schema, state, ckpt: streaming_kmv_monitor(
                spark, glob, schema, state, key_col="user_id",
                checkpoint=ckpt, k=_KMV_K,
            ),
        )
        sk = read_table(spark, state).agg(
            F.max("h").alias("kth_hex"), F.count(F.lit(1)).alias("k_seen")
        )
        exact = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id").isNotNull())  # batch-query parity
            .select(
                F.substring(
                    F.sha2(F.col("user_id").cast("string"), 256), 1, 15
                ).alias("h")
            )
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("true_distinct"))
        )
        est, err = _kmv_estimate_exprs()
        out = (
            sk.crossJoin(F.broadcast(exact))
            .withColumn("est_distinct", F.expr(est))
            .select(
                F.col("k_seen").cast("bigint").alias("k"),
                "kth_hex",
                "est_distinct",
                "true_distinct",
                F.expr(err).alias("err_permille"),
            )
        )
        return cut(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_token_stats_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming upkeep of the LEXICAL INDEX statistics — the streaming
    face of ``plans.incremental.bm25_index_two_batch``: each arriving
    document micro-batch folds its word-bigram (token, df, tf) partials
    into the persisted stats table (``merge_aggregate`` on the token
    key), so the searchable corpus statistics stay current as the crawl
    streams in and history is never re-scanned. df counts DOCUMENTS
    (the batch aggregates to the (doc, token) grain first); both
    monoids are additive, so stream(batches) ≡ batch(union) exactly.
    Replay protection via the shared ``_streaming_fold`` commit
    marker."""
    from .operators.maintenance import merge_aggregate

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        bigrams = F.when(
            F.size("toks") >= 2,
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                " element_at(toks, i + 1)))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        tf = (
            batch_df.select("doc_id", toks.alias("toks"))
            .select("doc_id", F.explode(bigrams).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .drop("doc_id")
        )
        merge_aggregate(
            spark,
            state_path,
            tf,
            keys=["token"],
            sums=["tf"],
            count_col="df",
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def stream_token_stats_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form of ``streaming_token_stats_monitor``: land
    the documents table as two parity micro-batches, fold each into a
    fresh persisted token-stats state, and project the same top-200
    head the batch query reports — under the BATCH one-shot oracle
    (``_BM25_IDX_SQL``), because df/tf are additive monoids: the
    streamed state must equal the one-shot recompute exactly or the
    driver hash fails."""
    import shutil

    from .catalog import load_table
    from .operators.writer import read_table
    from .plans.incremental import _BM25_IDX_TOP

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_tokstats_")
    try:
        state = _fold_parity_batches(
            spark,
            docs,
            "doc_id",
            ["doc_id", "text"],
            "doc_id bigint, text string",
            tmp,
            lambda glob, schema, state, ckpt: streaming_token_stats_monitor(
                spark, glob, schema, state, checkpoint=ckpt
            ),
        )
        out = (
            read_table(spark, state)
            .orderBy(
                F.col("df").desc(), F.col("tf").desc(), F.col("token").asc()
            )
            .limit(_BM25_IDX_TOP)
            .select(
                "token",
                F.col("df").cast("bigint").alias("df"),
                F.col("tf").cast("bigint").alias("tf_total"),
            )
        )
        return cut(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_bootstrap_monitor(
    spark: SparkSession,
    source_glob: str,
    schema,
    state_path: str,
    checkpoint: str | None = None,
) -> None:
    """Streaming upkeep of the POISSON-BOOTSTRAP replicate totals — the
    streaming face of ``plans.stats.poisson_bootstrap_ci``: each
    arriving order micro-batch fans out its rows across the B+1
    replicate ids, draws the deterministic md5 Poisson(1) weights (a
    pure function of (order, replicate) — batch boundaries cannot
    change a single draw), and folds the per-replicate weighted sums
    into the persisted totals table (``merge_aggregate`` on the
    replicate key). Replicate totals are additive monoids, so
    stream(batches) ≡ batch(union) exactly — a LIVE confidence
    interval over the revenue stream, maintained without ever
    re-scanning history. Replay protection via the shared
    ``_streaming_fold`` commit marker."""
    from .operators.maintenance import merge_aggregate
    from .plans.stats import _boot_totals

    def fold(batch_df: DataFrame, commit_meta: dict) -> None:
        # ONE shared core: _boot_totals carries the explicit-width
        # pre-fan-out repartition and the plan_barrier'd hash staging
        # (see its docstring for both measured traps), so the streamed
        # fold cannot drift from the one-shot query's draw semantics.
        # The batch pre-aggregates to the B+1 replicate grain before
        # the fold; total and n_rows are both additive monoids.
        merge_aggregate(
            spark,
            state_path,
            _boot_totals(batch_df),
            keys=["b"],
            sums=["total", "n_rows"],
            count_col="n_batches",
            commit_meta=commit_meta,
        )

    _streaming_fold(spark, source_glob, schema, state_path, checkpoint, fold)


def stream_bootstrap_ci_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract form of ``streaming_bootstrap_monitor``: land the
    orders fact as two parity micro-batches, fold each into a fresh
    persisted replicate-totals state, and project the same
    point-estimate + order-statistic CI row the batch query reports —
    under the BATCH one-shot oracle (``plans.stats``'
    ``_POISSON_BOOTSTRAP_SQL``), because every per-(order, replicate)
    weight is a deterministic hash draw and the totals are additive:
    the streamed CI must equal the one-shot bootstrap exactly or the
    driver hash fails."""
    import shutil

    from .catalog import load_table
    from .operators.writer import read_table
    from .plans.stats import _boot_summarize

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="stream_boot_")
    try:
        state = _fold_parity_batches(
            spark,
            orders,
            "o_orderkey",
            ["o_orderkey", "cents"],
            "o_orderkey bigint, cents bigint",
            tmp,
            lambda glob, schema, st, ckpt: streaming_bootstrap_monitor(
                spark, glob, schema, st, checkpoint=ckpt
            ),
        )
        totals = read_table(spark, state).select(
            "b",
            "total",
            F.col("n_rows").cast("bigint").alias("n_rows"),
        )
        return cut(_boot_summarize(totals))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data observability end-to-end (r7 verdict item 8): land the
    events table as two micro-batches — even event_ids first, then the
    odd half — through a 1-hour-watermark windowed aggregation with a
    SHARED checkpoint, so run 2 resumes with run 1's committed
    watermark (``max(even ts) - 1h``) and every odd-half event older
    than that is dropped by the watermark gate. The audit reports
    Spark's own ``numRowsDroppedByWatermark`` tally (plus total input
    rows) — the silent-loss number the other ``stream_*`` queries
    surface per-query via ``<name>_late_metrics``.

    Exactly oracle-able, two subtleties pinned down by measurement:
    (1) timestamps are floored to whole seconds before landing (the
    watermark is millisecond arithmetic — sub-ms input would make the
    boundary engine-dependent) and Spark's drop predicate is strict
    ``ts < watermark``; (2) ``numRowsDroppedByWatermark`` counts rows
    entering the STATEFUL operator — for a windowed aggregation that
    is post-partial-agg GROUPS, not raw events (measured: 413 of 498
    late events at sf0.001), and the collapse depends on the input
    partitioning, so no SQL oracle exists for that shape. A streaming
    ``dropDuplicates`` keyed on every column has no partial phase —
    its stateful operator sees raw rows — so the audit uses it, and
    the DuckDB count ``count(odd rows with ts < max(even ts) -
    INTERVAL 1 HOUR)`` is exact."""
    import shutil

    from .catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.date_trunc("second", "ts").alias("ts")
    )
    tmp = tempfile.mkdtemp(prefix="stream_late_")
    inputs = 0
    dropped = 0
    # Stream-sized shuffle width (state stores per stateful exec ==
    # shuffle partitions; see _drain_to_memory's measured rationale).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"),
    )
    try:
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        for name, parity in (("b1", 0), ("b2", 1)):
            (
                ev.where(F.col("event_id") % 2 == parity)
                .coalesce(1)
                .write.option("header", True)
                .csv(f"{src}/{name}")
            )
            stream = (
                spark.readStream.schema("event_id bigint, ts timestamp")
                .option("header", True)
                .csv(f"{src}/*")
            )
            dedup = stream.withWatermark("ts", "1 hour").dropDuplicates(
                ["event_id", "ts"]
            )
            q = (
                dedup.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            run_in, run_drop = _harvest_progress(q)
            inputs += run_in
            dropped += run_drop
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(
        spark, [(inputs, dropped)], "input_rows bigint, rows_dropped_late bigint"
    )


STREAM_LATE_AUDIT_SQL = """
    WITH ev AS (
        SELECT event_id, date_trunc('second', ts) AS ts FROM events
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev) AS input_rows,
           CAST((SELECT count(*) FROM ev
                 WHERE event_id % 2 = 1
                   AND ts < (SELECT max(ts) - INTERVAL 1 HOUR FROM ev
                             WHERE event_id % 2 = 0)) AS BIGINT)
               AS rows_dropped_late
"""


def _streaming_fold(
    spark: SparkSession,
    source_glob: str,
    schema,
    mart_path: str,
    checkpoint: str | None,
    fold,
) -> None:
    """Shared foreachBatch fold loop with atomic replay protection.

    ``foreachBatch`` is at-least-once, and folding a sum twice is NOT
    idempotent — so the sink records (checkpoint, batch_id) in a commit
    marker stored INSIDE the mart table and committed by the SAME
    atomic pointer flip that commits the mart version
    (``overwrite_table(commit_meta=...)``, invoked by the fold
    callable). Mart data and folded-batch id can never disagree; see
    ``streaming_mart``'s docstring for the crash-window analysis."""
    from .operators.writer import read_commit_meta

    checkpoint = checkpoint or tempfile.mkdtemp(prefix="mart_ckpt_")
    committed = read_commit_meta(mart_path)
    if committed is not None:
        if committed["checkpoint"] != checkpoint:
            raise ValueError(
                f"mart {mart_path} was built from checkpoint "
                f"{committed['checkpoint']!r}; running it under "
                f"{checkpoint!r} would replay already-folded batches — "
                "reuse the original checkpoint or start a fresh mart path"
            )
    else:
        committed = {"checkpoint": checkpoint, "batch_id": -1}
        if table_exists(mart_path):
            raise ValueError(
                f"mart {mart_path} exists but has no commit marker — "
                "refusing to fold stream batches into a mart of unknown "
                "provenance"
            )
    src = _stream_csv_source(spark, schema, source_glob)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed["batch_id"]:
            return  # redelivered batch: already folded into the mart
        if not batch_df.isEmpty():
            fold(batch_df, {"checkpoint": checkpoint, "batch_id": batch_id})
        # Empty batches fold nothing, so not advancing the on-disk marker
        # for them is safe (replaying an empty batch is a no-op); the
        # in-memory id still advances to keep the skip check cheap.
        committed["batch_id"] = batch_id

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_scd2(
    spark: SparkSession,
    source_glob: str,
    schema,
    scd2_table,
    checkpoint: str | None = None,
) -> None:
    """Streaming Bronze→Silver: each micro-batch upserts into an
    ``SCD2Table`` via ``foreachBatch`` — the streaming-native form of
    the reference's watermark-cut + hash-diff + MERGE hop
    (2_Bronze_to_Silver.py:55-140). The stream's checkpoint replaces the
    hand-rolled watermark: a restarted query resumes at the first
    unprocessed file, so every batch is applied exactly once and SCD2
    history converges to the same state a batch run over the same files
    produces (tests/test_streaming_scd2.py proves the equivalence).

    ``foreachBatch`` is the right seam because SCD2's expire+append is a
    multi-job batch transaction — exactly the kind of sink Structured
    Streaming cannot express as a declarative streaming plan but will
    happily run per-batch with replay protection.
    """
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="scd2_ckpt_")
    src = _stream_csv_source(spark, schema, source_glob)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            scd2_table.upsert(batch_df)

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
