"""Incremental-processing queries: the stateful operators (SCD2 upsert,
watermark store, schema-evolving ingestion) driven end-to-end on
deterministic batches derived from the testdata, with DuckDB oracles
that recompute the expected END STATE declaratively.

This is the strongest correctness gate the engine has: the Spark side
actually writes parquet state through operators.scd2/watermark/writer
(multi-batch, injectable clocks), while the oracle reconstructs the
final state from the raw tables in pure SQL. Any divergence in
classification, expiry, or schema evolution hash-mismatches.

Batches are derived from ``customer``/``orders``/``events`` with
modular predicates (deterministic at every SF).
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table
from ..functions import local_df

_T1 = dt.datetime(2024, 1, 1)
_T2 = dt.datetime(2024, 2, 1)
_T3 = dt.datetime(2024, 3, 1)


# ---------------------------------------------------------------------------
# SCD2 two-batch end state (J1/J4, T5/T6, F3-F6)
# ---------------------------------------------------------------------------


def scd2_two_batch_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a real 2-batch SCD2 upsert (operators.scd2.SCD2Table, parquet
    state in a temp dir, injected clock) and return the full version
    history.

    batch1 (initial load):  customers with even key
    batch2 (incremental):   customers with key % 3 != 0, mktsegment
                            rewritten to 'CHANGED' for key % 5 == 0

    Expected end state (what the oracle recomputes):
    - unchanged overlap keys → one current row effective _T1
    - changed overlap keys   → expired row (_T1.._T2) + current row (_T2)
    - batch1-only keys       → untouched current row (_T1)  [ABSENT]
    - batch2-only keys       → inserted current row (_T2)
    """
    from ..operators.scd2 import SCD2Table

    customer = load_table(spark, sf_dir, "customer")
    b1 = customer.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b2 = customer.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )

    tmp = tempfile.mkdtemp(prefix="scd2_q_")
    try:
        clock = [_T1]
        dim = SCD2Table(
            spark, f"{tmp}/dim_customer", "c_custkey", clock=lambda: clock[0]
        )
        dim.upsert(b1)
        clock[0] = _T2
        dim.upsert(b2)
        hist = dim.history().select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "is_current",
            "effective_date",
            "end_date",
        )
        # Materialize distributed BEFORE the temp dir disappears —
        # localCheckpoint pins blocks on executors, no driver collect.
        return hist.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SCD2_HISTORY_SQL = f"""
    WITH b1 AS (
        SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
    ),
    b2 AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 3 != 0
    ),
    changed AS (  -- overlap keys whose tracked content differs
        SELECT b1.c_custkey
        FROM b1 JOIN b2 USING (c_custkey)
        WHERE b1.c_name != b2.c_name OR b1.c_mktsegment != b2.c_mktsegment
    )
    -- batch1 rows still current: overlap-unchanged + batch1-only (ABSENT)
    SELECT b1.c_custkey, b1.c_name, b1.c_mktsegment,
           true AS is_current,
           TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS effective_date,
           NULL::TIMESTAMP AS end_date
    FROM b1
    WHERE b1.c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    -- expired versions of changed keys
    SELECT b1.c_custkey, b1.c_name, b1.c_mktsegment,
           false, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}'
    FROM b1
    WHERE b1.c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    -- new current versions: changed keys + batch2-only inserts
    SELECT b2.c_custkey, b2.c_name, b2.c_mktsegment,
           true, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', NULL
    FROM b2
    WHERE b2.c_custkey IN (SELECT c_custkey FROM changed)
       OR b2.c_custkey NOT IN (SELECT c_custkey FROM b1)
"""


# ---------------------------------------------------------------------------
# SCD2 delete handling (closes the reference's README.MD:141 "Optional /
# not implemented" gap via the opt-in on_delete="expire" mode)
# ---------------------------------------------------------------------------


def scd2_delete_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full-snapshot batches through ``SCD2Table(on_delete=
    "expire")``; returns the full version history.

    batch1 (_T1): customers with key % 4 == 0
    batch2 (_T2): drops key % 3 == 0 (DELETED → expired, no successor);
                  rewrites mktsegment to 'CHANGED' for key % 5 == 0
    batch3 (_T3): batch2 plus the deleted keys re-added as 'REBORN'
                  (delete → reinsert round-trip: the expired row stays,
                  a fresh current version appends)

    Expected end state (oracle recomputes declaratively):
    - key%3!=0, %5!=0 → one untouched current row (_T1)
    - key%3!=0, %5==0 → expired (_T1.._T2) + current 'CHANGED' (_T2)
    - key%3==0        → expired (_T1.._T2, the deletion) + current
                        'REBORN' (_T3)
    """
    from ..operators.scd2 import SCD2Table

    base = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    kept = F.col("c_custkey") % 3 != 0
    b2 = base.where(kept).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    b3 = b2.unionByName(
        base.where(~kept).select(
            "c_custkey", "c_name", F.lit("REBORN").alias("c_mktsegment")
        )
    )

    tmp = tempfile.mkdtemp(prefix="scd2_del_q_")
    try:
        clock = [_T1]
        dim = SCD2Table(
            spark,
            f"{tmp}/dim_customer",
            "c_custkey",
            clock=lambda: clock[0],
            on_delete="expire",
        )
        dim.upsert(base)
        clock[0] = _T2
        dim.upsert(b2)
        clock[0] = _T3
        dim.upsert(b3)
        hist = dim.history().select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "is_current",
            "effective_date",
            "end_date",
        )
        return hist.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SCD2_DELETE_SQL = f"""
    WITH k AS (
        SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 4 = 0
    )
    -- never-touched keys: one current row from batch1
    SELECT c_custkey, c_name, c_mktsegment,
           true AS is_current,
           TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS effective_date,
           NULL::TIMESTAMP AS end_date
    FROM k WHERE c_custkey % 3 != 0 AND c_custkey % 5 != 0
    UNION ALL
    -- changed keys: expired v1 + current CHANGED v2
    SELECT c_custkey, c_name, c_mktsegment,
           false, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}'
    FROM k WHERE c_custkey % 3 != 0 AND c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED',
           true, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', NULL
    FROM k WHERE c_custkey % 3 != 0 AND c_custkey % 5 = 0
    UNION ALL
    -- deleted keys: expiry tombstone (no successor at _T2) ...
    SELECT c_custkey, c_name, c_mktsegment,
           false, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}'
    FROM k WHERE c_custkey % 3 = 0
    UNION ALL
    -- ... then reborn as a fresh current version at _T3
    SELECT c_custkey, c_name, 'REBORN',
           true, TIMESTAMP '{_T3:%Y-%m-%d %H:%M:%S}', NULL
    FROM k WHERE c_custkey % 3 = 0
"""


# ---------------------------------------------------------------------------
# Watermark two-batch window (T1-T3, A5, F11)
# ---------------------------------------------------------------------------


def watermark_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the WatermarkStore through the reference's two-run cycle:
    batch 1 = events with event_id < 500 → advance watermark to its max
    ts; batch 2 = the incremental cut of the FULL table past that stored
    watermark (state round-trips through parquet on disk). Returns
    batch 2 — exactly the rows a second pipeline run would process."""
    from ..operators.watermark import WatermarkStore

    events = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="wm_q_")
    try:
        store = WatermarkStore(spark, f"{tmp}/state")
        batch1 = events.where(F.col("event_id") < 500)
        store.advance_from(batch1, "ts", "events")
        batch2 = store.cut(events, "ts", "events")
        return batch2.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_WM_BATCH_SQL = """
    SELECT * FROM events
    WHERE ts > (SELECT max(ts) FROM events WHERE event_id < 500)
"""


def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive ``operators.maintenance.erase_cascade`` end-to-end: copy
    the customer→orders→lineitem star into a scratch dir, erase every
    customer with ``c_custkey % 100 == 3`` (plus their orders and those
    orders' line items), and return the per-table audit — before /
    removed / after counts PLUS the post-erasure orphan count per FK
    edge, re-measured from the REWRITTEN tables (lineitems whose order
    vanished, orders whose customer vanished). The oracle recomputes
    the expected counts declaratively and pins every orphan count at
    zero — so the children-first rewrite ordering and the cascade's
    completeness are both hash-checked, not just asserted."""
    from ..operators.maintenance import erase_cascade
    from ..operators.writer import read_table

    tmp = tempfile.mkdtemp(prefix="gdpr_q_")
    try:
        for t in ("customer", "orders", "lineitem"):
            cols = {
                "customer": ["c_custkey", "c_name", "c_nationkey"],
                "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
                "lineitem": ["l_orderkey", "l_partkey", "l_quantity"],
            }[t]
            load_table(spark, sf_dir, t).select(*cols).write.parquet(f"{tmp}/{t}")
        keys = (
            load_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % 100 == 3)
            .select("c_custkey")
        )
        report = erase_cascade(
            spark,
            keys,
            [
                {"path": f"{tmp}/customer", "match": "c_custkey", "doom": "root"},
                {
                    "path": f"{tmp}/orders",
                    "match": "o_custkey",
                    "doom": "root",
                    "emit": ("o_orderkey", "orders"),
                },
                {"path": f"{tmp}/lineitem", "match": "l_orderkey", "doom": "orders"},
            ],
        )
        cust = read_table(spark, f"{tmp}/customer")
        orders = read_table(spark, f"{tmp}/orders")
        li = read_table(spark, f"{tmp}/lineitem")
        orphans = {
            "customer": 0,
            "orders": orders.join(
                cust.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ).count(),
            "lineitem": li.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ).count(),
        }
        rows = [
            (
                r["table"],
                r["rows_before"],
                r["rows_removed"],
                r["rows_after"],
                orphans[r["table"]],
            )
            for r in report
        ]
        return local_df(
            spark,
            rows,
            "table_name string, rows_before bigint, rows_removed bigint, "
            "rows_after bigint, orphans_after bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_GDPR_SQL = """
    WITH doomed AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 100 = 3
    ),
    doomed_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT k FROM doomed)
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM customer) AS rows_before,
           (SELECT count(*) FROM doomed) AS rows_removed,
           (SELECT count(*) FROM customer) - (SELECT count(*) FROM doomed)
               AS rows_after,
           CAST(0 AS BIGINT) AS orphans_after
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM doomed_orders),
           (SELECT count(*) FROM orders)
               - (SELECT count(*) FROM doomed_orders),
           CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders)),
           (SELECT count(*) FROM lineitem)
               - (SELECT count(*) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders)),
           CAST(0 AS BIGINT)
"""


# ---------------------------------------------------------------------------
# Schema-evolving append (S1/S2/S5, F1; the Landing→Bronze lifecycle)
# ---------------------------------------------------------------------------


def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the CSV infer-then-pin + evolving-append lifecycle: write
    two landing batches of ``orders`` as CSV (batch 2 adds a column),
    ingest both through CsvIngestor (audit columns, injected clock),
    return Bronze minus the nondeterministic source_file path."""
    from ..sources.ingest import CsvIngestor
    from ..operators.writer import read_table

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="ingest_q_")
    try:
        landing1 = f"{tmp}/landing1/orders"
        landing2 = f"{tmp}/landing2/orders"
        b1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        b2 = (
            orders.where(F.col("o_orderkey") % 2 == 1)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                F.col("o_orderpriority").alias("priority"),
            )
        )
        b1.coalesce(1).write.option("header", "true").csv(landing1)
        b2.coalesce(1).write.option("header", "true").csv(landing2)

        clock = [_T1]
        ing = CsvIngestor(spark, f"{tmp}/bronze", clock=lambda: clock[0])
        ing.run(f"{tmp}/landing1")
        clock[0] = _T2
        ing.run(f"{tmp}/landing2")

        bronze = read_table(spark, f"{tmp}/bronze/orders").drop("source_file")
        return bronze.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_INGEST_SQL = f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS ingestion_timestamp,
           NULL::VARCHAR AS priority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
"""


def dedup_index_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the documents table into a persisted fingerprint index in
    two id-ordered batches (operators.maintenance.merge_fingerprint_index
    — real parquet state, atomic overwrites) and return the final
    index. Because batch-1 ids all precede batch-2 ids, first-seen-wins
    keepers coincide with global min(doc_id), so the oracle is the
    ONE-SHOT exact-dedup recompute — the two-batch incremental path
    must converge to it exactly, hash-checked by the driver.

    The split point is an exact median fetched to the driver: one
    scalar of control-plane data, same class as the SCD2 queries'
    injected clocks."""
    from ..operators.maintenance import merge_fingerprint_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="fpidx_q_")
    try:
        merge_fingerprint_index(
            spark, f"{tmp}/index", docs.where(F.col("doc_id") <= mid)
        )
        _, index = merge_fingerprint_index(
            spark, f"{tmp}/index", docs.where(F.col("doc_id") > mid)
        )
        return index.select(
            "fingerprint", "keeper_doc_id", "dup_count"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_DEDUP_INDEX_SQL = r"""
    SELECT sha256(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keeper_doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY ALL
"""

_BM25_IDX_TOP = 200  # reported head of the folded posting-stats table


def bm25_index_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintain the LEXICAL index's statistics — the
    sparse-retrieval parallel of [[ivf_index_maintenance]]: BM25's
    corpus state (per-term document frequency and total term frequency
    over word-bigram shingles, plus the derivable totals) is a pure
    commutative monoid, so new document batches FOLD into the persisted
    stats table (``operators.maintenance.merge_aggregate``, keys =
    token, sums = tf, count = df) without ever re-scanning history —
    exactly how a production search index absorbs a crawl increment.
    Two id-split batches here; the driver-checked convergence contract
    is that the folded state equals the ONE-SHOT recompute over the
    whole corpus (the [[dedup_index_two_batch]] pattern). Output = the
    top-{top} head by (df, tf) — the near-stopword boundary region the
    df-cap decision reads.

    Scale shape: per batch, ONE token-key shuffle at the (doc, token)
    grain (map-side combined), then the fold re-aggregates the batch
    head against the persisted stats (pre-aggregated, vocabulary-sized,
    never history-sized); the split median is one scalar collect."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(bigrams).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=True)  # both batches slice this one table
    )
    from ..operators.maintenance import merge_aggregate

    tmp = tempfile.mkdtemp(prefix="bm25idx_q_")
    try:
        merge_aggregate(
            spark,
            f"{tmp}/stats",
            tf.where(F.col("doc_id") <= mid).drop("doc_id"),
            keys=["token"],
            sums=["tf"],
            count_col="df",
        )
        stats = merge_aggregate(
            spark,
            f"{tmp}/stats",
            tf.where(F.col("doc_id") > mid).drop("doc_id"),
            keys=["token"],
            sums=["tf"],
            count_col="df",
        )
        return (
            stats.orderBy(
                F.col("df").desc(), F.col("tf").desc(), F.col("token").asc()
            )
            .limit(_BM25_IDX_TOP)
            .select(
                "token",
                F.col("df").cast("bigint").alias("df"),
                F.col("tf").cast("bigint").alias("tf_total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


bm25_index_two_batch.__doc__ = bm25_index_two_batch.__doc__.format(
    top=_BM25_IDX_TOP
)


_BM25_IDX_SQL = rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS token
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents
        )
    ),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY ALL
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total
    FROM tf
    GROUP BY token
    ORDER BY df DESC, tf_total DESC, token ASC
    LIMIT {_BM25_IDX_TOP}
"""


def cluster_labels_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the near-dup graph into a persisted cluster-label table in
    two id-ordered batches (operators.maintenance.merge_cluster_labels
    — label contraction over real parquet state, atomic overwrites)
    and return the final table. Batch 2's edge set is every candidate
    pair TOUCHING a batch-2 doc — including the cross-batch bridges
    that must merge previously-separate batch-1 clusters — so the fold
    exercises the hard path (cluster merge through a new node), and
    the oracle is the ONE-SHOT recursive-CTE CC recompute
    (``mlprep._CC_SQL``): the incremental path must converge to it
    exactly, hash-checked by the driver.

    Candidate pairs here come from the registered blocked-Jaccard join
    (one computation, split by batch membership); a production fold
    would pull cross-batch candidates from the persisted LSH band
    index instead of recomputing — the fold operator is agnostic to
    where its edges come from."""
    from ..operators.maintenance import merge_cluster_labels
    from .mlprep import _CC_JACCARD_MIN
    from ..functions import plan_barrier  # noqa: F401  (dedup import parity)
    from .dedup import jaccard_pairs_raw

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    # The RAW pairs are checkpointed before the jaccard filter — same
    # trap as _compute_dedup_clusters' edge selection (see its
    # comment; both then run the one CC kernel): filtering
    # first lets Catalyst push `jaccard >= t` into the blocking join's
    # condition, where the O(|tokens|) set-overlap runs on every
    # blocked candidate (measured 14.2 s → ~4 s for this edge step at
    # sf0.1). The checkpoint now comes from the SHARED memoized
    # substrate (dedup.jaccard_pairs_raw — same barrier, built once
    # per pass across its three consumers).
    pairs = jaccard_pairs_raw(spark, sf_dir)
    edges = (
        pairs.where(F.col("jaccard") >= _CC_JACCARD_MIN)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="ccidx_q_")
    try:
        merge_cluster_labels(
            spark,
            f"{tmp}/labels",
            edges.where(
                (F.col("doc_a") <= mid) & (F.col("doc_b") <= mid)
            ),
            docs.where(F.col("doc_id") <= mid),
        )
        final = merge_cluster_labels(
            spark,
            f"{tmp}/labels",
            edges.where(
                (F.col("doc_a") > mid) | (F.col("doc_b") > mid)
            ),
            docs.where(F.col("doc_id") > mid),
        )
        return final.select("doc_id", "cluster_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _cc_oracle_sql() -> str:
    from .mlprep import _CC_SQL

    return _CC_SQL


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-native TIME TRAVEL end-to-end (operators.writer
    `write_snapshot` / `read_snapshot` — immutable ``v=N`` directories
    plus an atomically-flipped pointer file, the transaction-log half
    of Delta this environment can't install) driven through a
    CDC-style version diff: write the orders table as version 1, a
    mutated version 2 (urgent orders repriced, 'P' orders deleted, a
    deterministic ~1% of keys cloned as NEW rows), then FULL-OUTER
    join the two PINNED versions and classify every key as
    added / removed / changed / unchanged. The oracle recomputes the
    expected class counts declaratively from the source table — any
    torn snapshot, wrong pointer resolution, or version bleed-through
    shifts a count and hash-fails.

    The reprice is ``+ 1.0`` on the double (identical IEEE op in both
    engines), so 'changed' is bit-deterministic. Scale: the diff is
    one key-equi full-outer join + a 4-row aggregate; snapshots add no
    read amplification (readers resolve the pointer once)."""
    import shutil
    import tempfile

    from ..operators.writer import read_snapshot, write_snapshot

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="snap_q_")
    try:
        path = f"{tmp}/orders_snap"
        write_snapshot(orders, path)
        base = orders.where(F.col("o_orderstatus") != "P").withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.col("o_totalprice") + F.lit(1.0),
            ).otherwise(F.col("o_totalprice")),
        )
        clones = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(1000000000).cast("bigint")
        )
        write_snapshot(base.unionByName(clones), path)
        v1 = read_snapshot(spark, path, version=1).select(
            "o_orderkey",
            F.col("o_totalprice").alias("p1"),
            F.lit(1).alias("in1"),
        )
        v2 = read_snapshot(spark, path).select(
            "o_orderkey",
            F.col("o_totalprice").alias("p2"),
            F.lit(1).alias("in2"),
        )
        diff = (
            v1.join(v2, "o_orderkey", "full_outer")
            .select(
                F.when(F.col("in1").isNull(), "added")
                .when(F.col("in2").isNull(), "removed")
                .when(F.col("p1") != F.col("p2"), "changed")
                .otherwise("unchanged")
                .alias("change_type")
            )
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        )
        return diff.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SNAPSHOT_DIFF_SQL = """
    SELECT 'added' AS change_type, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT 'removed', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT 'changed', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_orderstatus <> 'P' AND o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'unchanged', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_orderstatus <> 'P' AND o_orderpriority <> '1-URGENT'
"""


def partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout end-to-end: orders write partitioned on
    o_orderstatus (operators.writer.write_partitioned), a second
    DYNAMIC overwrite replaces ONLY the 'F' partition with its urgent
    subset (the idempotent daily-reload idiom — O/P directories are
    untouched), then the revenue rollup reads back with a partition-key
    filter that prunes to two directories (PartitionFilters asserted in
    test_plans_explain). The oracle recomputes the expected end state
    declaratively: full O/P plus urgent-only F.

    Money follows the engine's cents convention (DECIMAL sum → BIGINT
    cents) so the hash is engine-exact."""
    from ..operators.writer import write_partitioned

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    )
    tmp = tempfile.mkdtemp(prefix="part_q_")
    try:
        path = f"{tmp}/orders_part"
        write_partitioned(orders, path, ["o_orderstatus"])
        write_partitioned(
            orders.where(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderpriority") == "1-URGENT")
            ),
            path,
            ["o_orderstatus"],
        )
        pruned = spark.read.parquet(path).where(
            F.col("o_orderstatus").isin("F", "O")
        )
        out = pruned.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
                )
                * 100
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_PARTITION_PRUNED_SQL = """
    WITH final AS (
        SELECT * FROM orders WHERE o_orderstatus != 'F'
        UNION ALL
        SELECT * FROM orders
        WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    )
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) * 100
                AS BIGINT) AS revenue_cents
    FROM final
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus, o_orderpriority
"""


_T_MID = dt.datetime(2024, 1, 15)


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over SCD2 history (``SCD2Table.as_of``): run the
    same 2-batch upsert as ``scd2_two_batch_history``, then snapshot
    the dimension at TWO instants — ``mid`` (between the loads: must
    reproduce batch 1 exactly, including rows later changed) and
    ``final`` (after batch 2: must equal ``current()``). The pair
    proves version ranges answer historical reads correctly, not just
    that the end state is right — the property an auditor or a
    training-data lineage check actually uses SCD2 for. Snapshots are
    pure filters over the history scan (disjoint version ranges per
    key — no window, no dedup)."""
    from ..operators.scd2 import SCD2Table

    customer = load_table(spark, sf_dir, "customer")
    b1 = customer.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b2 = customer.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    tmp = tempfile.mkdtemp(prefix="scd2_pit_")
    try:
        clock = [_T1]
        dim = SCD2Table(
            spark, f"{tmp}/dim_customer", "c_custkey", clock=lambda: clock[0]
        )
        dim.upsert(b1)
        clock[0] = _T2
        dim.upsert(b2)
        snaps = [
            dim.as_of(ts)
            .select(
                F.lit(label).alias("asof_label"),
                "c_custkey",
                "c_name",
                "c_mktsegment",
            )
            for label, ts in (("mid", _T_MID), ("final", _T3))
        ]
        return snaps[0].unionByName(snaps[1]).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SCD2_PIT_SQL = """
    WITH b1 AS (
        SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
    ),
    b2 AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 3 != 0
    )
    -- mid-snapshot: exactly batch 1 (batch 2 hadn't happened yet)
    SELECT 'mid' AS asof_label, c_custkey, c_name, c_mktsegment FROM b1
    UNION ALL
    -- final snapshot: batch 2 wins on overlap; batch1-only keys persist
    SELECT 'final', c_custkey, c_name, c_mktsegment FROM b2
    UNION ALL
    SELECT 'final', b1.c_custkey, b1.c_name, b1.c_mktsegment
    FROM b1
    WHERE b1.c_custkey NOT IN (SELECT c_custkey FROM b2)
"""


def late_dimension_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension lifecycle (``SCD2Table.ensure_members``,
    the Kimball inferred-member pattern) end-to-end: load HALF the
    customer dimension (_T1), then let the orders fact reference ALL
    its customers — every referenced-but-missing key gets a typed-NULL
    placeholder version (_T2) so the fact join never drops revenue —
    then the full dimension arrives (_T3) and the ordinary upsert
    hash-diff expires each placeholder into history. Three end states
    the oracle recomputes declaratively: untouched _T1 rows (half load,
    unchanged by the full load), inferred-then-completed keys (NULL
    version _T2.._T3 + real current _T3), and never-referenced
    stragglers (plain _T3 inserts)."""
    from ..operators.scd2 import SCD2Table

    customer = load_table(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_mktsegment"]
    b1 = customer.where(F.col("c_custkey") % 2 == 0).select(*cols)
    full = customer.select(*cols)
    fact_keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    tmp = tempfile.mkdtemp(prefix="scd2_late_")
    try:
        clock = [_T1]
        dim = SCD2Table(
            spark, f"{tmp}/dim_customer", "c_custkey", clock=lambda: clock[0]
        )
        dim.upsert(b1)
        clock[0] = _T2
        dim.ensure_members(fact_keys)
        clock[0] = _T3
        dim.upsert(full)
        hist = dim.history().select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "is_current",
            "effective_date",
            "end_date",
        )
        return hist.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_LATE_DIM_SQL = f"""
    WITH b1 AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
    inferred AS (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM b1)
    )
    -- half-load rows: unchanged by the full load, current since _T1
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           true AS is_current,
           TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS effective_date,
           NULL::TIMESTAMP AS end_date
    FROM customer c WHERE c.c_custkey IN (SELECT c_custkey FROM b1)
    UNION ALL
    -- the inferred era: NULL attributes, expired when the real row came
    SELECT i.c_custkey, NULL, NULL,
           false, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{_T3:%Y-%m-%d %H:%M:%S}'
    FROM inferred i
    UNION ALL
    -- completed + never-referenced keys: real values current since _T3
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           true, TIMESTAMP '{_T3:%Y-%m-%d %H:%M:%S}', NULL
    FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM b1)
"""


# ---------------------------------------------------------------------------
# Full-orchestrator end-to-end (S13/J5/C3 + every stage: the reference's
# actual product, adf/pipeline.json:2 Copy_All_Tables_Pipeline_SCD2)
# ---------------------------------------------------------------------------


def _segment_mart(spark: SparkSession, catalog) -> DataFrame:
    """Demo gold mart: current-customer counts per market segment —
    the 3_Silver_to_Gold.py shape (filter is_current → groupBy → agg)
    at toy grain, built strictly from the SILVER layer."""
    from ..operators.writer import read_table

    cur = read_table(spark, catalog.path("silver", "customers")).where(
        F.col("is_current")
    )
    return cur.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


def _demo_pipeline_cached(spark: SparkSession, sf_dir: str):
    """The demo-pipeline run, memoized with its tmp lake dir: the three
    pipeline_* queries interrogate different layers of the SAME
    deterministic two-run orchestration (silver history / gold mart /
    run log), so re-driving the orchestrator per query would triple
    the cost for identical on-disk state. Same sf_dir -> bit-identical
    lake."""
    return memo.shared(
        "demo_pipeline",
        spark,
        sf_dir,
        lambda keep: _run_demo_pipeline(spark, sf_dir, keep.tmpdir("pipe_demo_")),
    )


def _run_demo_pipeline(spark: SparkSession, sf_dir: str, tmp: str):
    """Drive the REAL orchestrator (pipeline.MedallionPipeline) through
    two incremental runs over landing CSVs synthesized from ``customer``:

    run 1 (_T1): batch = customers with key % 3 != 0 (two thirds)
    run 2 (_T2): batch = ALL customers, segment rewritten to 'PROMO'
                 for key % 5 == 0

    Every stage is the production path: CSV discovery + infer-then-pin
    ingestion with audit columns (landing→bronze), watermark-windowed
    SCD2 upsert (bronze→silver), gold-mart refresh (silver→gold), and
    the persisted run log. Deterministic via the injected clock."""
    from ..pipeline import MedallionPipeline, TableConfig

    customer = load_table(spark, sf_dir, "customer")
    b1 = customer.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b2 = customer.select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("PROMO"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    landing = f"{tmp}/landing/customers"
    clock = [_T1]
    pipe = MedallionPipeline(
        spark,
        f"{tmp}/lake",
        [TableConfig("customers", "c_custkey")],
        clock=lambda: clock[0],
        gold_marts={"customer_segments": _segment_mart},
    )
    # The engine's own CSV sink (S12) writes the landing batches; the
    # `_`-prefixed _SUCCESS markers are skipped by source discovery.
    b1.coalesce(1).write.mode("overwrite").option("header", True).csv(landing)
    r1 = pipe.run(f"{tmp}/landing")
    clock[0] = _T2
    b2.coalesce(1).write.mode("overwrite").option("header", True).csv(landing)
    r2 = pipe.run(f"{tmp}/landing")
    if not all(s.ok for s in (*r1, *r2)):
        bad = [s for s in (*r1, *r2) if not s.ok]
        raise RuntimeError(f"pipeline stage failed: {bad}")
    return pipe


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing→bronze→silver under the orchestrator in one driver-
    visible pass: returns the full silver SCD2 history after the two
    demo runs. The oracle recomputes that history declaratively —
    unchanged run-1 rows stay current since _T1, segment-changed keys
    carry an expired _T1.._T2 version, and run 2's inserts + new
    versions are current since _T2."""
    pipe = _demo_pipeline_cached(spark, sf_dir)
    from ..operators.writer import read_table

    hist = read_table(spark, pipe.catalog.path("silver", "customers")).select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_name",
        "c_mktsegment",
        "is_current",
        "effective_date",
        "end_date",
    )
    return hist.localCheckpoint(eager=True)


_PIPE_E2E_SQL = f"""
    -- run-1 rows never touched again: in batch1 (key%3<>0), segment
    -- unchanged by batch2 (key%5<>0)
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment,
           true AS is_current,
           TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS effective_date,
           NULL::TIMESTAMP AS end_date
    FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 5 <> 0
    UNION ALL
    -- expired run-1 versions of keys batch2 changed
    SELECT CAST(c_custkey AS BIGINT), c_name, c_mktsegment,
           false, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}'
    FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 0
    UNION ALL
    -- run-2 current versions: inserts (key%3=0) + updates (key%5=0)
    SELECT CAST(c_custkey AS BIGINT), c_name,
           CASE WHEN c_custkey % 5 = 0 THEN 'PROMO' ELSE c_mktsegment END,
           true, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', NULL
    FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0
"""


def pipeline_gold_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver→gold stage under the orchestrator: after the two demo
    runs, read back the materialized ``customer_segments`` mart from the
    GOLD layer (not recomputed in memory — the parquet the pipeline
    wrote). Oracle: segment counts over the final current state."""
    pipe = _demo_pipeline_cached(spark, sf_dir)
    from ..operators.writer import read_table

    mart = read_table(spark, pipe.catalog.path("gold", "customer_segments"))
    return mart.localCheckpoint(eager=True)


_PIPE_GOLD_SQL = """
    SELECT CASE WHEN c_custkey % 5 = 0 THEN 'PROMO' ELSE c_mktsegment END
               AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    GROUP BY 1
"""


def pipeline_run_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted run-log table (the reference only DESCRIBES its
    logging table, README.MD:230-233; the engine materializes it):
    after the two demo runs, six rows — ingest / SCD2 / gold-mart
    outcome per run with stage-appropriate counts. The oracle derives
    every count from ``customer`` with the same modular predicates."""
    pipe = _demo_pipeline_cached(spark, sf_dir)
    return pipe.run_log().localCheckpoint(eager=True)


_PIPE_LOG_SQL = f"""
    WITH n AS (
        SELECT
            CAST(count(*) FILTER (c_custkey % 3 <> 0) AS BIGINT) AS n_b1,
            CAST(count(*) AS BIGINT) AS n_b2,
            CAST(count(*) FILTER (c_custkey % 3 = 0) AS BIGINT) AS ins2,
            CAST(count(*) FILTER (c_custkey % 3 <> 0 AND c_custkey % 5 = 0) AS BIGINT) AS upd2,
            CAST(count(*) FILTER (c_custkey % 3 <> 0 AND c_custkey % 5 <> 0) AS BIGINT) AS nc2,
            CAST(count(DISTINCT CASE WHEN c_custkey % 3 <> 0 THEN c_mktsegment END) AS BIGINT) AS seg1,
            CAST(count(DISTINCT CASE WHEN c_custkey % 5 = 0 THEN 'PROMO' ELSE c_mktsegment END) AS BIGINT) AS seg2
        FROM customer
    )
    SELECT 1 AS run_id, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}' AS run_at,
           '__ingest__' AS stage, true AS ok,
           n_b1 AS n_insert, NULL::BIGINT AS n_update,
           NULL::BIGINT AS n_no_change, NULL::BIGINT AS n_deleted,
           NULL::VARCHAR AS error
    FROM n
    UNION ALL
    SELECT 1, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', 'customers', true,
           n_b1, 0, 0, NULL, NULL FROM n
    UNION ALL
    SELECT 1, TIMESTAMP '{_T1:%Y-%m-%d %H:%M:%S}', 'gold:customer_segments', true,
           seg1, NULL, NULL, NULL, NULL FROM n
    UNION ALL
    SELECT 2, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', '__ingest__', true,
           n_b2, NULL, NULL, NULL, NULL FROM n
    UNION ALL
    SELECT 2, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', 'customers', true,
           ins2, upd2, nc2, NULL, NULL FROM n
    UNION ALL
    SELECT 2, TIMESTAMP '{_T2:%Y-%m-%d %H:%M:%S}', 'gold:customer_segments', true,
           seg2, NULL, NULL, NULL, NULL FROM n
"""



def jdbc_watermark_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's control-table watermark ROUND TRIP
    (dbo.adf_watermark: Lookup read + Script write-back,
    adf/pipeline.json:186-272) against a LIVE embedded Derby database,
    driver-visible: two incremental runs over ``orders`` commit their
    high watermark into the source DB via ``df.write.jdbc`` and read it
    back through the pushdown MAX lookup; the second run's window is
    cut from the stored value. Output — the default sentinel, both
    committed watermarks, and run 2's windowed row count — is exactly
    recomputable from ``orders`` in SQL, so the whole JDBC state
    machine sits under the value oracle (the Derby jars ship inside
    the Spark distribution; the db lives in a temp dir)."""
    from ..operators.watermark import JdbcWatermarkStore

    tmp = tempfile.mkdtemp(prefix="jdbc_wm_q_")
    try:
        db = f"{tmp}/derby_ctrl"
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db};create=true"
        ).close()
        store = JdbcWatermarkStore(
            spark,
            f"jdbc:derby:{db}",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
        orders = load_table(spark, sf_dir, "orders")
        wm_default = store.get("orders")
        run1 = orders.where(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
        )
        store.advance_from(run1, "o_orderdate", "orders")
        wm_run1 = store.get("orders")
        batch2 = store.cut(orders, "o_orderdate", "orders")
        n_run2 = batch2.count()
        store.advance_from(batch2, "o_orderdate", "orders")
        wm_run2 = store.get("orders")
        return local_df(
            spark,
            [(wm_default, wm_run1, int(n_run2), wm_run2)],
            "wm_default timestamp, wm_run1 timestamp, n_run2 bigint, wm_run2 timestamp",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_JDBC_WM_SQL = """
    WITH w1 AS (
        SELECT max(o_orderdate) AS wm FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT TIMESTAMP '1900-01-01' AS wm_default,
           (SELECT wm FROM w1) AS wm_run1,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_orderdate > (SELECT wm FROM w1)) AS n_run2,
           (SELECT max(o_orderdate) FROM orders) AS wm_run2
"""


def fact_temporal_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store-style TEMPORAL ENRICHMENT: join every fact row to
    the dimension VERSION that was valid at the fact's event time —
    the query that makes SCD2 history worth keeping (training-data
    pipelines need "the customer's segment AS OF the order", not as of
    today, or they leak the future into features).

    Builds the same two-batch SCD2 customer dimension as
    [[scd2_point_in_time]] (real parquet state, injected clocks _T1/_T2)
    and gives each order a deterministic event time straddling the
    version boundary (even order keys → mid-window, odd → after batch
    2). The join is ``SCD2Table.enrich_asof`` — an EQUI-join on
    the entity key with the validity interval [effective_date,
    end_date) as a residual predicate — versions per key are few, so
    the residual prunes locally after the key shuffle; never a
    time-bucketed interval×interval range join when an entity key
    exists. Left join: facts referencing keys the dimension never
    loaded keep NULL attributes (they surface, not vanish). The oracle
    replays both version snapshots declaratively."""
    from ..operators.scd2 import SCD2Table

    customer = load_table(spark, sf_dir, "customer")
    b1 = customer.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b2 = customer.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    tmp = tempfile.mkdtemp(prefix="scd2_tdj_")
    try:
        clock = [_T1]
        dim = SCD2Table(
            spark, f"{tmp}/dim_customer", "c_custkey", clock=lambda: clock[0]
        )
        dim.upsert(b1)
        clock[0] = _T2
        dim.upsert(b2)
        facts = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(_T_MID))
            .otherwise(F.lit(_T3))
            .cast("timestamp")
            .alias("fact_ts"),
        )
        joined = dim.enrich_asof(facts, "o_custkey", "fact_ts").withColumn(
            "segment_at_fact", F.col("dim_c_mktsegment")
        )
        return joined.select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.when(F.col("o_orderkey") % 2 == 0, "mid")
            .otherwise("late")
            .alias("fact_label"),
            "segment_at_fact",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_TEMPORAL_JOIN_SQL = """
    WITH b1 AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
    ),
    b2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END
                   AS c_mktsegment
        FROM customer WHERE c_custkey % 3 != 0
    ),
    final AS (
        SELECT * FROM b2
        UNION ALL
        SELECT * FROM b1 WHERE c_custkey NOT IN (SELECT c_custkey FROM b2)
    )
    SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o.o_custkey AS BIGINT) AS o_custkey,
           CASE WHEN o.o_orderkey % 2 = 0 THEN 'mid' ELSE 'late' END
               AS fact_label,
           CASE WHEN o.o_orderkey % 2 = 0 THEN m.c_mktsegment
                ELSE f.c_mktsegment END AS segment_at_fact
    FROM orders o
    LEFT JOIN b1 m ON m.c_custkey = o.o_custkey
    LEFT JOIN final f ON f.c_custkey = o.o_custkey
"""


QUERIES = {
    "pipeline_end_to_end": pipeline_end_to_end,
    "pipeline_run_log": pipeline_run_log,
    "pipeline_gold_mart": pipeline_gold_mart,
    "jdbc_watermark_round_trip": jdbc_watermark_round_trip,
    "scd2_two_batch_history": scd2_two_batch_history,
    "scd2_point_in_time": scd2_point_in_time,
    "fact_temporal_dimension_join": fact_temporal_dimension_join,
    "late_dimension_inferred": late_dimension_inferred,
    "dedup_index_two_batch": dedup_index_two_batch,
    "bm25_index_two_batch": bm25_index_two_batch,
    "cluster_labels_two_batch": cluster_labels_two_batch,
    "orders_snapshot_diff": orders_snapshot_diff,
    "partition_pruned_revenue": partition_pruned_revenue,
    "scd2_delete_expiry": scd2_delete_expiry,
    "watermark_incremental_batch": watermark_incremental_batch,
    "gdpr_erasure_cascade": gdpr_erasure_cascade,
    "ingest_schema_evolution": ingest_schema_evolution,
}

ORACLES = {
    "pipeline_end_to_end": _PIPE_E2E_SQL,
    "pipeline_run_log": _PIPE_LOG_SQL,
    "pipeline_gold_mart": _PIPE_GOLD_SQL,
    "jdbc_watermark_round_trip": _JDBC_WM_SQL,
    "scd2_two_batch_history": _SCD2_HISTORY_SQL,
    "scd2_point_in_time": _SCD2_PIT_SQL,
    "fact_temporal_dimension_join": _TEMPORAL_JOIN_SQL,
    "late_dimension_inferred": _LATE_DIM_SQL,
    "dedup_index_two_batch": _DEDUP_INDEX_SQL,
    "bm25_index_two_batch": _BM25_IDX_SQL,
    # one-shot CC recompute: the incremental fold must converge to it
    "cluster_labels_two_batch": _cc_oracle_sql(),
    "orders_snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "partition_pruned_revenue": _PARTITION_PRUNED_SQL,
    "scd2_delete_expiry": _SCD2_DELETE_SQL,
    "watermark_incremental_batch": _WM_BATCH_SQL,
    "gdpr_erasure_cascade": _GDPR_SQL,
    "ingest_schema_evolution": _INGEST_SQL,
}
