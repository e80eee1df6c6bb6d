"""Training-data preparation operators over ``documents`` — the
dataset-curation stage downstream of dedup/quality filtering (split,
cluster-collapse, feature weighting, class balancing).

Determinism discipline: anything that "samples" does so by hashing a
stable key (md5 — bit-identical across engines, unlike xxhash64 /
DuckDB's hash), so every run and every engine picks the same rows, the
split is reproducible under re-partitioning, and the DuckDB oracle can
replay it exactly.

Scale notes per operator are on the docstrings; the common theme: one
shuffle on a small key, no driver-side data, no Python in the loop. The
connected-components build runs the one CC kernel
(``operators.maintenance._cc_min_label``); every round loop runs on
``operators.rounds.iterate``.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import local_df
from pyspark.sql.window import Window

from .. import memo
from ..catalog import load_table
from ..operators import rounds
from ..operators.maintenance import _cc_min_label

# md5-prefix threshold: first two hex chars <= 'cc' keeps 205/256 ≈ 80%.
_TRAIN_PREFIX_MAX = "cc"


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 split by md5(doc_id) prefix. Hash-based (not
    row_number-based) so membership is a pure function of the key:
    stable under re-partitioning, appends, and re-runs — the property a
    100 TB pipeline needs so yesterday's train doc can't silently move
    into today's test set."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        "lang",
        F.when(prefix <= _TRAIN_PREFIX_MAX, "train").otherwise("test").alias("split"),
    )


_SPLIT_SQL = f"""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) <= '{_TRAIN_PREFIX_MAX}'
                THEN 'train' ELSE 'test' END AS split
    FROM documents
"""


_CONTAM_K = 5  # shingle width (tokens)


def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination check: for every test-split document,
    how many of its distinct {k}-token shingles also occur anywhere in
    the train split. The decontamination gate every eval pipeline needs —
    a test doc sharing even one shingle with train is flagged.

    Shape: shingles are built map-side with higher-order functions
    (sequence → slice → sha2, same portable-hex scheme as winnowing),
    distinct-ed per doc BEFORE the explode, then the train shingle set
    (one distinct = one shuffle on the shingle key) left-joins the test
    shingles on the hash. At 100 TB both sides are too big to broadcast
    — the shuffle equi-join on a 64-hex key IS the scalable plan, and
    skew is structurally absent (a shingle repeated across millions of
    docs was already collapsed by the per-side distinct).
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    # plan_barrier fence after the tokenize projection (see
    # functions.plan_barrier: CollapseProject/pushdown otherwise inline
    # the regex split into the per-shingle lambda — one re-tokenize per
    # position). The short-doc filter pushes to the scan as cheap O(n).
    from ..functions import plan_barrier

    toks_expr = F.split(F.trim(F.col("text")), r"\s+")
    tok_docs = plan_barrier(
        docs.where(F.size(toks_expr) >= _CONTAM_K).select(
            "doc_id", toks_expr.alias("t")
        )
    )
    t = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (_CONTAM_K - 1)),
        lambda i: F.sha2(F.array_join(F.slice(t, i, _CONTAM_K), " "), 256),
    )
    shingled = tok_docs.select(
        "doc_id",
        (prefix <= _TRAIN_PREFIX_MAX).alias("is_train"),
        F.explode(F.array_distinct(grams)).alias("g"),
    )
    train_set = shingled.where("is_train").select("g").distinct()
    test = shingled.where(~F.col("is_train"))
    return (
        test.join(train_set.withColumn("hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") > 0).alias("contaminated"),
        )
    )


_CONTAM_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               substr(md5(doc_id::VARCHAR), 1, 2) <= '{_TRAIN_PREFIX_MAX}' AS is_train,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, is_train,
               unnest(list_distinct(
                   list_transform(range(1, len(toks) - {_CONTAM_K - 1} + 1),
                       i -> sha256(array_to_string(list_slice(toks, i, i + {_CONTAM_K - 1}), ' '))))) AS g
        FROM t
        WHERE len(toks) >= {_CONTAM_K}
    ),
    train_set AS (SELECT DISTINCT g FROM g WHERE is_train)
    SELECT d.doc_id,
           count(*) AS n_shingles,
           count(ts.g) AS n_overlap,
           count(ts.g) > 0 AS contaminated
    FROM (SELECT * FROM g WHERE NOT is_train) d
    LEFT JOIN train_set ts USING (g)
    GROUP BY d.doc_id
"""


def _prefix_offsets(totals, total_col: str):
    """offset(pid) = Σ total_col over partitions with smaller pid —
    a triangular self-join over the ≤``_SHARD_RANGES``-row totals
    table instead of a no-partition window. Same values; removes the
    last single-partition WindowExec (and its warning) from the
    two-phase prefix-sum plans (r8, same idiom as
    ``analytics.supplier_revenue_gini``)."""
    return (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum(f"b.{total_col}"), F.lit(0)).alias("offset"))
    )



_SHARD_TOKEN_BUDGET = 20_000
_SHARD_RANGES = 16


def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents (in doc_id order) to training shards of
    ~``_SHARD_TOKEN_BUDGET`` tokens each: shard = floor(tokens-before-me
    / budget). The packing step every pretraining pipeline runs before
    writing shard files.

    The running token total is a **two-phase distributed prefix sum**,
    NOT a global window — ``Window.orderBy`` with no partitionBy pulls
    the whole table into ONE partition (Spark even warns), which is the
    canonical 100 TB deadlock. Instead: range-repartition on doc_id
    (ordered ranges → ascending partition ids), cumsum WITHIN each
    partition via a partitioned window, then add per-partition offsets
    computed from the tiny (n_ranges)-row totals table via
    ``_prefix_offsets`` (a triangular self-join — no single-partition
    window anywhere in the plan). Every stage is distributed.

    The result is invariant to the sampled range boundaries: offsets
    absorb whatever split the partitioner picked, so the DuckDB global
    window is an exact oracle.
    """
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    # The eager localCheckpoint PINS the (pid, row) assignment: the
    # window branch and the totals branch below both consume `ranged`,
    # and without materialization each would re-evaluate the range
    # partitioner independently — whose sampled boundaries are not
    # guaranteed identical across evaluations, so the offsets could
    # describe a different pid layout than the cumsum rows (silently
    # wrong shards). Correctness here must not ride on ReusedExchange.
    ranged = (
        docs.repartitionByRange(_SHARD_RANGES, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local_cum = F.sum("n_tokens").over(
        W.partitionBy("pid").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    staged = ranged.withColumn("local_cum", local_cum)
    # Per-partition totals from a plain hash agg on the checkpointed
    # rows (map-side partial sums; no window in this branch).
    totals = ranged.groupBy("pid").agg(F.sum("n_tokens").alias("ptot"))
    offsets = _prefix_offsets(totals, "ptot")
    start = F.col("offset") + F.col("local_cum") - F.col("n_tokens")
    return (
        staged.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(start / _SHARD_TOKEN_BUDGET).alias("shard_id"),
        )
    )


_SHARDS_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor(
               (sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
               / {_SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
    FROM t
"""


_PACK_CONTEXT = 512  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into fixed-length training sequences of
    ``_PACK_CONTEXT`` tokens — concat-and-chunk packing, the standard
    pretraining shape: documents concatenate in doc_id order into one
    global token stream, which slices into back-to-back context
    windows; a document straddling a boundary contributes a segment row
    to each window it touches. Output is the (seq_id, doc_id) segment
    map a loader needs to materialize sequence files: where in the doc
    the segment starts (``doc_offset``), where in the sequence it lands
    (``seq_offset``), and its length — every sequence is exactly full
    by construction except the last.

    Scale: the global token offset is the same two-phase distributed
    prefix sum as ``token_budget_shards`` (range-repartition →
    partition-local window → broadcast per-partition offsets), NOT a
    single-partition global window; the boundary fan-out is a
    ``sequence()`` + ``explode`` whose width is ceil(doc/context) —
    bounded per doc, no shuffle. An EOD separator is a constant +1 on
    ``n_tokens`` behind the same arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    return _pack_segments(docs)


def _pack_segments(docs: DataFrame) -> DataFrame:
    """The concat-and-chunk packing kernel behind [[pack_sequences]]
    and the pack stage of [[curation_pipeline_end_to_end]]: input is
    any ``(doc_id, n_tokens)`` frame; output the (seq_id, doc_id)
    segment map. Two-phase distributed prefix sum — never a
    single-partition global window."""
    from pyspark.sql.window import Window as W

    # Same materialization discipline as token_budget_shards: pin the
    # (pid, row) layout so the cumsum branch and the totals branch
    # describe the same partitioning.
    ranged = (
        docs.repartitionByRange(_SHARD_RANGES, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local_cum = F.sum("n_tokens").over(
        W.partitionBy("pid").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    staged = ranged.withColumn("local_cum", local_cum)
    totals = ranged.groupBy("pid").agg(F.sum("n_tokens").alias("ptot"))
    offsets = _prefix_offsets(totals, "ptot")
    g = (
        staged.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("offset") + F.col("local_cum") - F.col("n_tokens")).alias("g_start"),
        )
        .withColumn("g_end", F.col("g_start") + F.col("n_tokens"))
    )
    c = F.lit(_PACK_CONTEXT)
    spans = g.select(
        "doc_id",
        "g_start",
        "g_end",
        F.explode(
            F.sequence(
                F.floor(F.col("g_start") / c),
                F.floor((F.col("g_end") - 1) / c),
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("g_start"), F.col("seq_id") * c)
    seg_end = F.least(F.col("g_end"), (F.col("seq_id") + 1) * c)
    return spans.select(
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "doc_id",
        (seg_start - F.col("g_start")).cast("bigint").alias("doc_offset"),
        (seg_start - F.col("seq_id") * c).cast("bigint").alias("seq_offset"),
        (seg_end - seg_start).cast("bigint").alias("n_seq_tokens"),
    )


_PACK_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens AS BIGINT) AS g_start
        FROM t
    ),
    spans AS (
        SELECT doc_id, g_start, g_start + n_tokens AS g_end,
               unnest(range(g_start // {_PACK_CONTEXT},
                            (g_start + n_tokens - 1) // {_PACK_CONTEXT} + 1))
                   AS seq_id
        FROM cum
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           doc_id,
           CAST(greatest(g_start, seq_id * {_PACK_CONTEXT}) - g_start AS BIGINT)
               AS doc_offset,
           CAST(greatest(g_start, seq_id * {_PACK_CONTEXT})
                - seq_id * {_PACK_CONTEXT} AS BIGINT) AS seq_offset,
           CAST(least(g_end, (seq_id + 1) * {_PACK_CONTEXT})
                - greatest(g_start, seq_id * {_PACK_CONTEXT}) AS BIGINT)
               AS n_seq_tokens
    FROM spans
"""


def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-boundary-respecting sequence packing: greedy NEXT-FIT in
    doc_id order — a document never splits across sequences (the
    fine-tuning/eval packing discipline; ``pack_sequences`` is the
    concat-and-chunk pretraining twin and the pure-JVM production
    path). A document longer than the context truncates to it.

    Scale shape is two-phase: the DISTRIBUTED prefix sum assigns docs
    to ~20k-token shards (``token_budget_shards`` — no global window),
    then each shard packs independently in one ``applyInPandas`` group
    — sequential only WITHIN a shard (inherent to boundary-respecting
    packing: each placement depends on the previous fill), parallel
    across shards, group memory bounded by the shard budget. Output is
    one row per packed doc with its (shard, seq) slot and the
    sequence's integer fill permille — floats stay out of the hash.

    Oracle: DuckDB replays the same next-fit with a recursive CTE
    stepping doc-by-doc within each shard."""
    shards = token_budget_shards(spark, sf_dir)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        cap = _PACK_CONTEXT
        seq_ids, packed_n = [], []
        seq, fill, fills = 0, 0, []
        for n in pdf["n_tokens"].clip(upper=cap):
            n = int(n)
            if fill + n > cap:
                fills.append(fill)
                seq, fill = seq + 1, 0
            seq_ids.append(seq)
            packed_n.append(n)
            fill += n
        fills.append(fill)
        return pd.DataFrame(
            {
                "shard_id": pdf["shard_id"],
                "seq_id": seq_ids,
                "doc_id": pdf["doc_id"],
                "n_packed_tokens": packed_n,
                "seq_fill_permille": [fills[s] * 1000 // cap for s in seq_ids],
            }
        )

    return shards.groupBy("shard_id").applyInPandas(
        pack,
        schema=(
            "shard_id bigint, seq_id bigint, doc_id bigint, "
            "n_packed_tokens bigint, seq_fill_permille bigint"
        ),
    )


_PACK_GREEDY_SQL = rf"""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    sharded AS (
        SELECT doc_id,
               least(n_tokens, {_PACK_CONTEXT}) AS n,
               CAST(floor(
                   (sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens) / {_SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
        FROM t
    ),
    ord AS (
        SELECT *, row_number() OVER (PARTITION BY shard_id ORDER BY doc_id) AS rn
        FROM sharded
    ),
    packed AS (
        SELECT shard_id, rn, doc_id, n,
               CAST(0 AS BIGINT) AS seq_id, n AS fill
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.shard_id, o.rn, o.doc_id, o.n,
               CASE WHEN p.fill + o.n > {_PACK_CONTEXT}
                    THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.fill + o.n > {_PACK_CONTEXT}
                    THEN o.n ELSE p.fill + o.n END
        FROM packed p
        JOIN ord o ON o.shard_id = p.shard_id AND o.rn = p.rn + 1
    )
    SELECT shard_id, seq_id, doc_id,
           CAST(n AS BIGINT) AS n_packed_tokens,
           CAST(sum(n) OVER (PARTITION BY shard_id, seq_id) * 1000
                // {_PACK_CONTEXT} AS BIGINT) AS seq_fill_permille
    FROM packed
"""


def _funnel_flags(docs: DataFrame) -> DataFrame:
    """``(doc_id, keep, predicted_lang, fingerprint, split)`` — the
    per-row stage signals of the curation funnel, shared by the batch
    [[curation_funnel]] and the streamed fold
    ([[stream_curation_funnel_fold]], streaming.py) so the two paths
    cannot drift. Every signal is a narrow expression over one scan."""
    from .textops import _lang_exprs, _norm_text_expr, _quality_exprs

    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        _quality_exprs()["keep"].alias("keep"),
        _lang_exprs()["predicted_lang"].alias("predicted_lang"),
        F.sha2(_norm_text_expr(), 256).alias("fingerprint"),
        F.when(prefix <= _TRAIN_PREFIX_MAX, "train")
        .otherwise("test")
        .alias("split"),
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-curation funnel in one pass: how many documents
    survive quality filtering → target-language filtering → exact dedup
    → the train split. The per-stage counts every curation run reports
    (and the first thing that catches a filter regression eating the
    corpus).

    Shares the REGISTERED stages' column expressions (doc_quality,
    lang_id, doc_fingerprint, train_test_split) rather than re-deriving
    their logic, and the oracle embeds the same stages' SQL — both
    sides stay consistent with the individually-oracled queries by
    construction. Since every stage signal is a per-row expression,
    they all compute off ONE scan of documents (the former
    join-of-stage-DataFrames formulation paid 4x the text I/O; a plan
    test pins the single scan). Dedup-first is decided among
    quality+lang survivors: the window sorts survivors first within
    each fingerprint, so rn=1 lands on a survivor whenever one exists.
    Shape: one scan, narrow maps, one window shuffle on fingerprint;
    output is 1 row.
    """
    base = _funnel_flags(load_table(spark, sf_dir, "documents"))
    ql_ok = F.col("keep") & (F.col("predicted_lang") == "en")
    w = Window.partitionBy("fingerprint").orderBy(
        ql_ok.desc(), F.col("doc_id")
    )
    flagged = base.select(
        "doc_id",
        "keep",
        ql_ok.alias("ql_ok"),
        "split",
        F.row_number().over(w).alias("rn"),
    )
    u_ok = F.col("ql_ok") & (F.col("rn") == 1)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("keep"), 1)).alias("n_quality"),
        F.count(F.when(F.col("ql_ok"), 1)).alias("n_lang"),
        F.count(F.when(u_ok, 1)).alias("n_unique"),
        F.count(F.when(u_ok & (F.col("split") == "train"), 1)).alias("n_train"),
    )


def _funnel_sql() -> str:
    from .textops import _FINGERPRINT_SQL, _LANG_SQL, _QUALITY_SQL

    return f"""
    WITH q AS ({_QUALITY_SQL}),
    l AS (SELECT * FROM ({_LANG_SQL})),
    f AS ({_FINGERPRINT_SQL}),
    s AS ({_SPLIT_SQL}),
    base AS (
        SELECT q.doc_id, q.keep, l.predicted_lang, f.fingerprint, s.split
        FROM q JOIN l USING (doc_id) JOIN f USING (doc_id) JOIN s USING (doc_id)
    ),
    flagged AS (
        SELECT *,
               keep AND predicted_lang = 'en' AS ql_ok,
               row_number() OVER (
                   PARTITION BY fingerprint
                   ORDER BY (keep AND predicted_lang = 'en') DESC, doc_id
               ) AS rn
        FROM base
    )
    SELECT count(*) AS n_total,
           count(*) FILTER (keep) AS n_quality,
           count(*) FILTER (ql_ok) AS n_lang,
           count(*) FILTER (ql_ok AND rn = 1) AS n_unique,
           count(*) FILTER (ql_ok AND rn = 1 AND split = 'train') AS n_train
    FROM flagged
    """


def curation_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline as ONE composed run —
    exact dedup → MinHash near-dup → boilerplate-chunk rewrite →
    quality filter → decontaminate → sequence packing — with the
    per-stage row-attrition report a curation team actually ships
    (r11 verdict item 6; the curation counterpart of
    [[pipeline_end_to_end]]'s medallion composition). Each stage
    REUSES the registered stage's kernel, not a re-derivation:
    [[exact_dedup]]'s normalized fingerprint, [[minhash_lsh_candidates]]
    wholesale (pairs filtered to both-survivors — provably identical
    to re-running LSH on survivors, since exact-dup copies share
    shingles hence buckets), [[chunk_dedup_rewrite]]'s ``_chunk_marked``
    + ``_rebuilt_agg`` with boilerplate RE-DECIDED among survivors,
    [[doc_quality]]'s keep flag over the REWRITTEN text,
    [[bloom_decontaminate]] wholesale (original-text fingerprints — a
    doc's eval-set identity is unchanged by the rewrite), and
    [[pack_sequences]]' ``_pack_segments`` over surviving rewritten
    token counts. The pack row's ``rows_out`` is the number of packed
    SEQUENCES (unit change; ``rows_dropped`` is NULL there), counted
    from the real segment map — the oracle pins it to the closed form
    ceil(Σ tokens / context), so the distributed prefix-sum packing is
    end-to-end verified inside the composition.

    Scale shape: each stage keeps its own audited plan (this function
    adds only semi-/anti-joins on doc_id between stages); survivor
    frames are localCheckpointed so stage N+1 never re-runs stages
    1..N; the only driver-side values are the six stage counts — the
    report IS control-plane data. At 100 TB the checkpoints become the
    persisted inter-stage tables every curation run materializes
    anyway (resume/inspect points), which is how the reference's
    medallion layers work too (1_Landing_to_Bronze.py →
    3_Silver_to_Gold.py)."""
    from .dedup import _norm_fingerprint, minhash_lsh_candidates
    from .textops import _WS as _T_WS
    from .textops import _chunk_marked, _quality_exprs, _rebuilt_agg

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # Every stage count rides that stage's (eager) localCheckpoint via
    # observe() — the per-stage count() actions were a second scan of
    # each checkpointed survivor set, and n0 was a separate scan of the
    # corpus. One CollectMetrics above the semi-join's probe side
    # counts the input rows; one above the checkpoint counts the
    # survivors. Same numbers, half the actions.
    o0, o1 = Observation(), Observation()
    keepers = (
        docs.select("doc_id", _norm_fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = (
        docs.observe(o0, F.count(F.lit(1)).alias("n"))
        .join(keepers, "doc_id", "left_semi")
        .observe(o1, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n0, n1 = int(o0.get["n"]), int(o1.get["n"])

    pairs = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    ids1 = s1.select("doc_id")
    near_drops = (
        pairs.join(
            ids1.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
        )
        .join(ids1.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    o2 = Observation()
    s2 = (
        s1.join(near_drops, "doc_id", "left_anti")
        .observe(o2, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n2 = int(o2.get["n"])

    rebuilt = _chunk_marked(s2).groupBy("doc_id").agg(
        _rebuilt_agg().alias("text")
    )
    o3 = Observation()
    s3 = (
        rebuilt.where(F.col("text") != "")
        .observe(o3, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n3 = int(o3.get["n"])

    o4 = Observation()
    s4 = (
        s3.where(_quality_exprs()["keep"])
        .observe(o4, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n4 = int(o4.get["n"])

    from .mlprep import bloom_decontaminate as _bloom  # self-module clarity

    clean_ids = _bloom(spark, sf_dir).select("doc_id")
    o5 = Observation()
    s5 = (
        s4.join(clean_ids, "doc_id", "left_semi")
        .observe(o5, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n5 = int(o5.get["n"])

    segs = _pack_segments(
        s5.select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), _T_WS)).alias("n_tokens"),
        )
    )
    n6 = segs.select("seq_id").distinct().count()

    stages = [
        (1, "exact_dedup", n0, n1),
        (2, "near_dup", n1, n2),
        (3, "boilerplate_rewrite", n2, n3),
        (4, "quality_filter", n3, n4),
        (5, "decontaminate", n4, n5),
        (6, "pack", n5, n6),
    ]
    rows = [
        (o, s, i, out, (i - out) if s != "pack" else None)
        for o, s, i, out in stages
    ]
    return local_df(
        spark,
        rows,
        "stage_ord bigint, stage string, rows_in bigint,"
        " rows_out bigint, rows_dropped bigint",
    )


def _curation_pipeline_sql() -> str:
    from .dedup import _MINHASH_LSH_SQL
    from .textops import _CDR_MIN_DOCS, _CDR_W

    return rf"""
    WITH s1 AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY sha256(lower(regexp_replace(trim(text),
                                                     '\s+', ' ', 'g')))
            ORDER BY doc_id) = 1
    ),
    pairs AS MATERIALIZED ({_MINHASH_LSH_SQL}),
    s2 AS MATERIALIZED (
        SELECT s1.doc_id, s1.text FROM s1
        WHERE s1.doc_id NOT IN (
            SELECT p.doc_b FROM pairs p
            JOIN s1 a ON a.doc_id = p.doc_a
            JOIN s1 b ON b.doc_id = p.doc_b
        )
    ),
    ct AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM s2
    ),
    cc AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   t[i * {_CDR_W} + 1 : i * {_CDR_W} + {_CDR_W}], ' '
               ) AS chunk
        FROM ct, unnest(range(0, (len(t) + {_CDR_W - 1}) // {_CDR_W}))
                 AS u(i)
    ),
    cb AS (
        SELECT chunk FROM cc GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= {_CDR_MIN_DOCS}
    ),
    s3 AS MATERIALIZED (
        SELECT doc_id, text FROM (
            SELECT m.doc_id,
                   coalesce(array_to_string(
                       list(m.chunk ORDER BY m.pos ASC)
                           FILTER (WHERE cb.chunk IS NULL), ' '
                   ), '') AS text
            FROM cc m LEFT JOIN cb ON cb.chunk = m.chunk
            GROUP BY m.doc_id
        )
        WHERE text != ''
    ),
    s4 AS MATERIALIZED (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\s+') AS toks,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                       AS punct
            FROM s3
        )
        WHERE len(toks) >= 10
          AND round(list_sum(list_transform(toks, w -> length(w))) * 1.0
                    / greatest(len(toks), 1), 4) >= 2.0
          AND round(list_sum(list_transform(toks, w -> length(w))) * 1.0
                    / greatest(len(toks), 1), 4) <= 12.0
          AND round(punct * 1.0 / greatest(length(text), 1), 4) < 0.2
    ),
    s5 AS MATERIALIZED (
        SELECT s4.doc_id, s4.text FROM s4
        JOIN documents d ON d.doc_id = s4.doc_id
        WHERE sha256(trim(d.text)) NOT IN (
            SELECT sha256(trim(text)) FROM documents WHERE doc_id % 20 = 0
        )
    ),
    packed AS (
        SELECT CAST((total + {_PACK_CONTEXT - 1}) // {_PACK_CONTEXT}
                    AS BIGINT) AS n_seqs
        FROM (
            SELECT coalesce(sum(len(regexp_split_to_array(trim(text),
                                                          '\s+'))), 0)
                       AS total
            FROM s5
        )
    ),
    counts AS (
        SELECT (SELECT count(*) FROM documents) AS n0,
               (SELECT count(*) FROM s1) AS n1,
               (SELECT count(*) FROM s2) AS n2,
               (SELECT count(*) FROM s3) AS n3,
               (SELECT count(*) FROM s4) AS n4,
               (SELECT count(*) FROM s5) AS n5,
               (SELECT n_seqs FROM packed) AS n6
    )
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_out AS BIGINT) AS rows_out,
           CAST(rows_dropped AS BIGINT) AS rows_dropped
    FROM (
        SELECT 1 AS stage_ord, 'exact_dedup' AS stage,
               n0 AS rows_in, n1 AS rows_out, n0 - n1 AS rows_dropped
        FROM counts
        UNION ALL SELECT 2, 'near_dup', n1, n2, n1 - n2 FROM counts
        UNION ALL SELECT 3, 'boilerplate_rewrite', n2, n3, n2 - n3
            FROM counts
        UNION ALL SELECT 4, 'quality_filter', n3, n4, n3 - n4 FROM counts
        UNION ALL SELECT 5, 'decontaminate', n4, n5, n4 - n5 FROM counts
        UNION ALL SELECT 6, 'pack', n5, n6, NULL FROM counts
    )
"""


_CC_JACCARD_MIN = 0.6


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support-filtered co-purchase edge list (u, v) — memoized to
    a tmp parquet table, because TWO registered graph queries
    (`part_affinity_triangles`, `copurchase_neighbor_jaccard`) consume
    the identical edges (the lift query needs pair COUNTS, a different
    grain, and stays independent). A production pipeline materializes
    its edge table exactly the same way; re-deriving the lineitem
    self-join per consumer doubles the dominant cost. Parquet rather
    than a cached DataFrame for the same session-hygiene reason as the
    cluster-table memo below."""

    def build(keep):
        path = f"{keep.tmpdir('affinity_cache_')}/edges"
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .localCheckpoint()
        )
        pairs = (
            li.alias("a")
            .join(li.alias("b"), "l_orderkey")
            .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .select(
                F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
            )
        )
        edges = (
            pairs.groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .where(F.col("n_orders") >= _AFFINITY_MIN_ORDERS)
            .select("u", "v")
        )
        edges.write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(memo.shared("affinity_edges", spark, sf_dir, build))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoizing front door for ``_compute_dedup_clusters``: the
    converged cluster table is deterministic per sf_dir, and THREE
    registered queries consume it (dedup_clusters itself,
    cluster_representatives, leakage_safe_split) — so it is
    materialized once to a tmp parquet table and re-read (a production
    pipeline materializes its cluster table exactly the same way;
    re-deriving CC per consumer triples the iteration cost). A parquet
    table rather than a cached DataFrame because callers (bench session
    hygiene) may drop checkpointed blocks between queries."""

    def build(keep):
        path = f"{keep.tmpdir('cc_cache_')}/clusters"
        _compute_dedup_clusters(spark, sf_dir).write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(memo.shared("dedup_clusters", spark, sf_dir, build))


def _compute_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse near-duplicate documents into clusters: connected
    components over the near-dup pair graph (edges = blocked candidate
    pairs with token Jaccard >= 0.6), labeling every doc with the
    minimum doc_id reachable from it. Downstream keeps one doc per
    cluster_id — the standard last stage of MinHash dedup at scale.

    The components come from the one CC kernel,
    ``operators.maintenance._cc_min_label`` (pointer-doubling min-label
    propagation; see its docstring for the convergence argument). The
    loop runs ONLY over nodes that appear in an edge — singleton docs
    (the overwhelming majority after blocking: near-dups are rare) never
    change label, so they skip the iteration entirely and union back in
    at the end.
    """
    from .dedup import jaccard_pairs_raw

    # The pair checkpoint keeps `jaccard >= t` out of the blocking join,
    # where the set overlap would run on every candidate (12x at sf0.1).
    edges = (
        jaccard_pairs_raw(spark, sf_dir)
        .where(F.col("jaccard") >= _CC_JACCARD_MIN)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    labels = _cc_min_label(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id")
    singletons = all_docs.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return labels.unionByName(singletons)


_CC_SQL = f"""
    WITH RECURSIVE
    pairs AS (
        WITH t AS (
            SELECT doc_id, source,
                   list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM t a JOIN t b
          ON a.source = b.source
         AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 60
        WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0
                    / len(list_distinct(list_concat(a.toks, b.toks))), 4)
               >= {_CC_JACCARD_MIN}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(root) AS cluster_id
    FROM reach
    GROUP BY node
"""


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse every near-dup cluster to its best surviving document —
    the step that turns ``dedup_clusters``' labels into an actual
    deduplicated corpus: per cluster, keep the doc ranked by (passes
    quality filter, token count, doc_id) — i.e. prefer a quality-green
    representative, break ties toward the longer then lowest-id doc.
    Composes the REGISTERED ``dedup_clusters`` and ``doc_quality``
    operators (curation_funnel's composition discipline), so the
    ranking key is cross-engine stable by those queries' own oracles.

    Shape: the cluster labels join quality on doc_id (1:1), then one
    window shuffle on cluster_id picks rank 1 and counts the cluster —
    singleton clusters (the vast majority) pass straight through."""
    from .textops import doc_quality

    clusters = dedup_clusters(spark, sf_dir)
    quality = doc_quality(spark, sf_dir).select("doc_id", "n_tokens", "keep")
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("keep"), F.desc("n_tokens"), F.col("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            F.col("keep").alias("rep_quality_keep"),
            F.col("n_tokens").alias("rep_n_tokens"),
        )
    )


# The CC recursion nests verbatim as a CTE body; quality replays the
# doc_quality keep rule on the SAME rounded values the Spark side ranks
# by (doc_quality compares its round(…,4) columns).
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplicate report off the materialized cluster
    table: how many docs each source contributes, how many survive
    cluster collapse (one representative per cluster counted toward
    the cluster minimum's source), and the duplicate rate in integer
    permille — the per-feed curation number a corpus team watches to
    find which scrape is flooding the pipeline with copies.

    Composes the memoized `dedup_clusters` (the CC table computes once
    per sf_dir for all its consumers) with one broadcast-sized join to
    the doc→source map; survivors attribute to the cluster-minimum
    doc's source, the same deterministic representative rule the
    oracle replays."""
    clusters = dedup_clusters(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = clusters.join(src, "doc_id")
    per_source = labeled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    survivors = (
        labeled.where(F.col("doc_id") == F.col("cluster_id"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_survivors"))
    )
    return (
        per_source.join(survivors, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_survivors", F.lit(0)).cast("bigint").alias("n_survivors"),
            F.expr(
                "(n_docs - coalesce(n_survivors, 0)) * 1000 div n_docs"
            )
            .cast("bigint")
            .alias("dup_rate_permille"),
        )
    )


_DEDUP_RATE_SQL = f"""
    WITH cc AS ({_CC_SQL}),
    labeled AS (
        SELECT cc.doc_id, cc.cluster_id, d.source
        FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    ),
    per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM labeled GROUP BY source
    ),
    survivors AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_survivors
        FROM labeled WHERE doc_id = cluster_id GROUP BY source
    )
    SELECT p.source, p.n_docs,
           CAST(coalesce(s.n_survivors, 0) AS BIGINT) AS n_survivors,
           CAST((p.n_docs - coalesce(s.n_survivors, 0)) * 1000 // p.n_docs
                AS BIGINT) AS dup_rate_permille
    FROM per_source p LEFT JOIN survivors s USING (source)
"""


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup cluster-SIZE distribution — the report every
    dedup study publishes (Lee et al. 2022 fig. 1 shape: how much of
    the corpus sits in clusters of each size, and cumulatively in
    clusters at least that large). Per exact size: cluster count, doc
    count, corpus share, and the ≥-size cumulative share — the numbers
    that pick a dedup policy ("collapsing clusters ≥ 2 removes X‰ of
    the corpus") and monitor crawl health over time.

    Shape: composes the memoized [[dedup_clusters]] table (CC computed
    once per sf_dir for all its consumers); one cluster-keyed count,
    one size-keyed count — the result is bounded by |distinct cluster
    sizes| (≤ a few hundred rows at any corpus scale, exact sizes beat
    log buckets and stay all-integer). The cumulative share runs over
    that tiny frame via the triangular-join idiom, never a global
    window; the corpus total rides a broadcast one-row crossJoin.
    All-integer permille output."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    per_size = (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .withColumn(
            "n_docs", F.expr("cluster_size * n_clusters").cast("bigint")
        )
    )
    total = per_size.agg(F.sum("n_docs").cast("bigint").alias("total_docs"))
    cum = (
        per_size.alias("a")
        .join(
            F.broadcast(per_size.alias("b")),
            F.col("b.cluster_size") >= F.col("a.cluster_size"),
        )
        .groupBy(
            F.col("a.cluster_size").alias("cluster_size"),
            F.col("a.n_clusters").alias("n_clusters"),
            F.col("a.n_docs").alias("n_docs"),
        )
        .agg(F.sum("b.n_docs").cast("bigint").alias("cum_docs_ge"))
    )
    return cum.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        F.expr("1000 * n_docs div total_docs").alias("docs_permille"),
        F.expr("1000 * cum_docs_ge div total_docs").alias(
            "cum_ge_permille"
        ),
    )


_CLUSTER_HIST_SQL = f"""
    WITH cc AS ({_CC_SQL}),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cc GROUP BY cluster_id
    ),
    per_size AS (
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size
    ),
    total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per_size)
    SELECT a.cluster_size, a.n_clusters, a.n_docs,
           CAST(1000 * a.n_docs // total_docs AS BIGINT) AS docs_permille,
           CAST(1000 * CAST(sum(b.n_docs) AS BIGINT) // total_docs AS BIGINT)
               AS cum_ge_permille
    FROM per_size a
    JOIN per_size b ON b.cluster_size >= a.cluster_size, total
    GROUP BY a.cluster_size, a.n_clusters, a.n_docs, total_docs
"""


_REPS_SQL = f"""
    WITH cc AS ({_CC_SQL}),
    q AS (
        WITH t AS (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\\s+') AS toks,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
            FROM documents
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               (len(toks) >= 10
                AND round(list_sum(list_transform(toks, w -> length(w))) * 1.0
                          / greatest(len(toks), 1), 4) >= 2.0
                AND round(list_sum(list_transform(toks, w -> length(w))) * 1.0
                          / greatest(len(toks), 1), 4) <= 12.0
                AND round(punct * 1.0 / greatest(length(text), 1), 4) < 0.2)
                   AS keep
        FROM t
    ),
    ranked AS (
        SELECT cc.cluster_id, q.doc_id, q.keep, q.n_tokens,
               row_number() OVER (PARTITION BY cc.cluster_id
                   ORDER BY q.keep DESC, q.n_tokens DESC, q.doc_id) AS rn,
               count(*) OVER (PARTITION BY cc.cluster_id) AS cluster_size
        FROM cc JOIN q ON q.doc_id = cc.doc_id
    )
    SELECT cluster_id, doc_id AS rep_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           keep AS rep_quality_keep,
           n_tokens AS rep_n_tokens
    FROM ranked WHERE rn = 1
"""


_PR_ITERS = 3
_PR_SCALE = 1_000_000  # fixed-point micro-units


def supplier_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the supplier CO-PURCHASE graph (edge =
    two suppliers fulfilling the same order): the influence/centrality
    score a marketplace runs over its supplier network, and the
    engine's demonstration of iterative DISTRIBUTED graph analytics
    beyond connected components.

    Every quantity is an INTEGER in micro-units: ranks start at 1e6,
    each round a node emits ``rank div outdeg`` along its edges,
    DANGLING nodes (no out-edges) redistribute their whole rank evenly
    (``dang_sum div n_nodes`` added to every node's inflow — the
    standard dangling-mass term, r7 verdict item 5), and each node
    collects ``150000 + (85 · (Σcontrib + dangling_share)) div 100``
    (damping 0.85 as integer multiply-then-div) — so there is NO float
    anywhere, aggregation order cannot wobble a single unit, and the
    DuckDB oracle (the same rounds unrolled as sequential CTEs)
    matches bit-for-bit. Ranks stay unnormalized (sum ≈ n·1e6 up to
    integer truncation), which is the conventional fixed-point form.

    Scale shape per round: one equi-join of edges against the rank
    table (shuffle on the node key) + one aggregate, run by
    ``operators.rounds.iterate``. State is one row per node; edges
    never change, so at 100 TB they'd persist pre-bucketed on src and
    every round co-locates for free."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    edges = rounds.cut(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )
    # outdeg is consumed twice per round (contrib join + dangling
    # anti-join) plus once at the end: materialize the tiny per-src
    # count table once instead of re-aggregating the edge table 7×
    # (r9 verdict item 3 — measured ~0.5-0.7 s per re-aggregation at
    # sf0.1; at scale this is the degree table every PageRank system
    # materializes next to its edge list).
    outdeg = rounds.cut(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    nodes = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))

    def power_step(rank: DataFrame, _rnd: int, _obs: Observation) -> DataFrame:
        contrib = (
            edges.join(rank, edges.src == rank.s_suppkey)
            .join(outdeg, "src")
            .select("dst", F.expr("rank_micro div deg").alias("c"))
        )
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        # Dangling mass: rank held by nodes with no out-edges, spread
        # evenly (integer share) to every node. One left-anti + scalar
        # aggregate per round, broadcast-attached — no extra shuffle of
        # the rank table.
        dang = rank.join(outdeg, rank.s_suppkey == outdeg.src, "left_anti").agg(
            F.coalesce(F.sum("rank_micro"), F.lit(0)).cast("bigint").alias("dang_sum")
        )
        return (
            nodes.join(inc, nodes.s_suppkey == inc.dst, "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "s_suppkey",
                (
                    F.lit(150_000)
                    + F.expr(
                        "85 * (coalesce(inc, 0) + dang_sum div n_nodes) div 100"
                    )
                ).cast("bigint").alias("rank_micro"),
            )
        )

    # Cut every SECOND round: ReusedExchange dedupes the contrib shuffle
    # where the uncut rank subtree appears twice (contrib + dangling), so
    # plan depth stays <= 2 rounds while the serial cut jobs halve (A/B:
    # 55 -> 44 jobs, ~4.0 -> ~3.1 s, ranks bit-identical; OPTIMIZATION_r16.md).
    rank = rounds.iterate(
        nodes.withColumn("rank_micro", F.lit(_PR_SCALE).cast("bigint")),
        power_step,
        max_rounds=_PR_ITERS,
        cut_every=2,
    )
    indeg = edges.groupBy(F.col("dst").alias("s_suppkey")).agg(
        F.count(F.lit(1)).alias("n_copurchase_edges")
    )
    return (
        rank.join(indeg, "s_suppkey", "left")
        .select(
            "s_suppkey",
            "rank_micro",
            F.coalesce("n_copurchase_edges", F.lit(0)).alias("n_copurchase_edges"),
        )
    )


def _pagerank_sql() -> str:
    base = f"""
    li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
    ),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM supplier),
    r0 AS (SELECT s_suppkey, CAST({_PR_SCALE} AS BIGINT) AS rank_micro
           FROM supplier)"""
    layers = []
    for k in range(_PR_ITERS):
        layers.append(f"""
    c{k} AS (
        SELECT e.dst, sum(r.rank_micro // o.deg) AS inc
        FROM edges e
        JOIN r{k} r ON r.s_suppkey = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ),
    d{k} AS (
        SELECT CAST(coalesce(sum(r.rank_micro), 0) AS BIGINT) AS dang_sum
        FROM r{k} r LEFT JOIN outdeg o ON o.src = r.s_suppkey
        WHERE o.src IS NULL
    ),
    r{k + 1} AS (
        SELECT n.s_suppkey,
               CAST(150000 + (85 * (coalesce(c.inc, 0)
                    + d.dang_sum // nn.n_nodes)) // 100 AS BIGINT)
                   AS rank_micro
        FROM supplier n
        LEFT JOIN c{k} c ON c.dst = n.s_suppkey
        CROSS JOIN d{k} d CROSS JOIN nn
    )""")
    return (
        "WITH "
        + base
        + ","
        + ",".join(layers)
        + f"""
    SELECT r.s_suppkey, r.rank_micro,
           CAST(coalesce(i.n, 0) AS BIGINT) AS n_copurchase_edges
    FROM r{_PR_ITERS} r
    LEFT JOIN (SELECT dst, count(*) AS n FROM edges GROUP BY dst) i
      ON i.dst = r.s_suppkey
    """
    )


_TFIDF_TOP_N = 3


def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1))). Three shuffles, all on small keys: tf on
    (doc, token) with map-side combine, df on token, then the per-doc
    row_number window. N joins in as a broadcast scalar — no driver
    action, no collect.

    idf is rounded to 6 decimals BEFORE the score multiply so the
    ordering key is bit-identical across engines (ln() may differ in
    the last ulp between libm and the JVM)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _TFIDF_TOP_N)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


_TFIDF_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf,
               round(tf.tf * round(ln((n.n_docs + 1.0) / (df.df + 1.0)), 6), 4) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {_TFIDF_TOP_N}
"""


def balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: every language keeps exactly
    min-class-count docs, chosen by md5 hash order (deterministic,
    engine-portable "random"). The window shuffles once on ``lang``;
    the per-class minimum is a broadcast scalar. The class-imbalance
    fix applied before training-mix construction."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    target = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("target_n")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.withColumn("pick_order", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(target))
        .where(F.col("pick_order") <= F.col("target_n"))
        .select("doc_id", "lang", "pick_order")
    )


_BALANCED_SQL = """
    WITH target AS (
        SELECT min(n) AS target_n
        FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    ),
    ordered AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT)
                   AS pick_order
        FROM documents
    )
    SELECT doc_id, lang, pick_order
    FROM ordered CROSS JOIN target
    WHERE pick_order <= target_n
"""


# Bloom parameters: _BLOOM_M bits / _BLOOM_K hashes. At the test corpus
# size (~25-500 blocklist docs) m=16384 gives a <1% false-positive rate;
# size m ~= 10 bits/key at production scale.
_BLOOM_M = 16_384
_BLOOM_K = 3


def _bloom_positions(fp):
    """_BLOOM_K bit positions from disjoint 8-hex-char slices of
    md5(fp) — engine-portable, no seeded-hash dependency."""
    return F.array(
        *[
            (F.conv(F.substring(F.md5(fp), 1 + 8 * i, 8), 16, 10).cast("long") % _BLOOM_M)
            for i in range(_BLOOM_K)
        ]
    )


def _bloom_bitmap(keys: DataFrame, col: str) -> DataFrame:
    """Distributed Bloom build: explode each key's bit positions into
    (word_idx, one-bit mask) and ``bit_or`` them per 64-bit word — a
    map-side-combining aggregate, so the shuffle is bitmap-sized
    (m/64 rows), never blocklist-sized."""
    pos = keys.select(F.explode(_bloom_positions(F.col(col))).alias("pos"))
    return pos.select(
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        # shiftleft's numBits arg must be a literal in the Python API —
        # the SQL form accepts a column expression.
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
    ).groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist decontamination with a Bloom prefilter: drop every
    corpus doc whose exact text fingerprint appears in a blocklist
    (stand-in eval set: ``doc_id % 20 == 0``), the "remove eval data
    from pretraining" pass.

    Spark 4.1 does not expose ``bloom_filter_agg``/``might_contain`` in
    the public registry (they are analyzer-internal runtime-filter
    expressions), so the filter is built from DataFrame primitives:
    bitmap via :func:`_bloom_bitmap`, probe via posexplode + broadcast
    join on the word index, candidate = ``bool_and(bit set)`` over the
    K probes. Candidates then confirm against the real blocklist with
    an exact semi-join, so false positives cannot affect the result —
    the oracle is a plain ``NOT IN``.

    Why this beats the naive anti-join at 100 TB: the naive plan
    shuffles the ENTIRE corpus on the fingerprint key; here the corpus
    is touched only by a broadcast probe (bitmap is m/64 longs — 20 MB
    per billion blocklist keys at 10 bits/key), and the shuffle-join
    runs on the tiny candidate set (true hits + ~1% false positives).
    Same shape Spark's own InjectRuntimeFilter gives a selective join.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.col("text")), 256)
    corpus = docs.select("doc_id", "source", fp.alias("fp"))
    blocklist = corpus.where(F.col("doc_id") % 20 == 0).select("fp")

    bitmap = _bloom_bitmap(blocklist, "fp")
    probes = corpus.select(
        "doc_id", F.explode(_bloom_positions(F.col("fp"))).alias("pos")
    ).select(
        "doc_id",
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
    )
    hits = (
        probes.join(F.broadcast(bitmap), "word_idx", "left")
        .select(
            "doc_id",
            ((F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))) != 0).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.bool_and("hit").alias("maybe"))
        .where("maybe")
    )
    confirmed = (
        corpus.join(hits.select("doc_id"), "doc_id", "left_semi")
        .join(blocklist.distinct(), "fp", "left_semi")
        .select("doc_id")
    )
    return corpus.join(confirmed, "doc_id", "left_anti").select(
        "doc_id", "source", "fp"
    )


_BLOOM_SQL = """
    SELECT doc_id, source, sha256(trim(text)) AS fp
    FROM documents
    WHERE sha256(trim(text)) NOT IN (
        SELECT sha256(trim(text)) FROM documents WHERE doc_id % 20 = 0
    )
"""


def token_balanced_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: pretraining mixes are specified in
    TOKENS per source, not documents (a source of long docs would
    otherwise dominate a doc-balanced mix). Every source contributes a
    greedy prefix — docs in md5-hash order (deterministic, portable
    "random") until the source's cumulative token count reaches the
    shared target, which is the smallest per-source token total (the
    largest budget every source can fully supply).

    Scale shape: one narrow map for token counts, one shuffle on
    ``source`` shared by the per-source cumulative-sum window and the
    totals aggregation, target joined back as a broadcast scalar. The
    boundary doc that crosses the target is kept (first prefix to reach
    the budget), so every source lands within one document of the
    target — all arithmetic exact BIGINT.

    Complements ``balanced_downsample`` (doc-count balance over
    ``lang``): same determinism idiom, different unit of account.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    target = (
        docs.groupBy("source")
        .agg(F.sum("n_tokens").alias("tok"))
        .agg(F.min("tok").alias("target_tokens"))
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        docs.withColumn("cum_tokens", cum.cast("bigint"))
        .crossJoin(F.broadcast(target))
        .where(F.col("cum_tokens") - F.col("n_tokens") < F.col("target_tokens"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


_MIXTURE_SQL = r"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
               md5(doc_id::VARCHAR) AS h
        FROM documents
    ),
    target AS (
        SELECT min(tok) AS target_tokens
        FROM (SELECT source, sum(n_tokens) AS tok FROM toks GROUP BY source)
    ),
    ordered AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ordered CROSS JOIN target
    WHERE cum_tokens - n_tokens < target_tokens
"""


# ---------------------------------------------------------------------------
# stratified sampling (per-language downsampling)
# ---------------------------------------------------------------------------

#: Per-stratum keep thresholds on the 2-hex-digit md5 prefix (256
#: buckets): "7f" keeps ~50%. Languages absent from the map keep
#: everything — the high-resource stratum is the one you thin.
_STRATA_PREFIX_MAX = {"en": "7f"}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling — thin the over-
    represented stratum (the corpus is ~44% English) without touching
    the rest, the standard rebalancing pass before mixture weighting.

    Membership is a pure function of the SALTED key (``md5('strat:' ||
    doc_id)`` — salted so sample membership is independent of
    ``train_test_split``'s unsalted hash; reusing the same hash would
    make "sampled" correlate with "train"). Hash-threshold, not
    ``sample()``: stable under re-partitioning, appends, and re-runs,
    and needs no sampling job. Map-side filter only — no shuffle, no
    driver participation; the plan is a scan with the predicate
    evaluated in codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 2
    )
    threshold = F.lit("ff")
    for lang, pmax in _STRATA_PREFIX_MAX.items():
        threshold = F.when(F.col("lang") == lang, F.lit(pmax)).otherwise(threshold)
    return docs.where(prefix <= threshold).select("doc_id", "lang", "source")


def _strata_case_sql() -> str:
    branches = " ".join(
        f"WHEN '{lang}' THEN '{pmax}'" for lang, pmax in _STRATA_PREFIX_MAX.items()
    )
    return f"CASE lang {branches} ELSE 'ff' END"


_STRATIFIED_SQL = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 2)
          <= {_strata_case_sql()}
"""


_TOPK_SAMPLE_K = 25


def stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k per-stratum sample — the complement of
    `stratified_sample`'s hash-threshold (which yields a ~rate, not a
    count): the k docs per language with the smallest salted-md5 key, a
    deterministic uniform draw whose membership is a pure function of
    the key set (eval-set construction wants exactly-k, not
    approximately-k·N/Σ). Ties in the 128-bit hash break on doc_id, so
    the draw is a total order and bit-identical across engines.

    Scale shape — the naive plan (row_number over PARTITION BY lang) is
    a trap at corpus scale: lang has ~6 values, so each stratum lands
    on ONE reducer and the window sorts billions of rows there. Instead
    the standard two-phase top-k: (1) local top-k per (lang,
    input-chunk) — the window partitions on (lang, spark_partition_id),
    every partition bounded by the scan chunk size; (2) the ≤ k·chunks
    candidate rows per lang (tiny) go through the final per-lang
    ranking. Chunk assignment is nondeterministic but CANDIDATE PRUNING
    is exact — any global top-k row is top-k of its own chunk — so the
    result is chunk-independent and the DuckDB oracle replays the naive
    single-window form."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.concat(F.lit("topk:"), F.col("doc_id").cast("string")))
    tagged = docs.select(
        "doc_id", "lang", key.alias("k"), F.spark_partition_id().alias("pid")
    )
    w_local = Window.partitionBy("lang", "pid").orderBy("k", "doc_id")
    cand = (
        tagged.withColumn("r", F.row_number().over(w_local))
        .where(F.col("r") <= _TOPK_SAMPLE_K)
        .drop("r", "pid")
    )
    w_final = Window.partitionBy("lang").orderBy("k", "doc_id")
    return (
        cand.withColumn("sample_rank", F.row_number().over(w_final).cast("bigint"))
        .where(F.col("sample_rank") <= _TOPK_SAMPLE_K)
        .select("doc_id", "lang", "sample_rank")
    )


_TOPK_SAMPLE_SQL = f"""
    SELECT doc_id, lang, sample_rank
    FROM (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('topk:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= {_TOPK_SAMPLE_K}
"""


_WEIGHTED_SAMPLE_K = 50
#: ln domain for u = (h+1)/2⁶⁰ ∈ (2⁻⁶⁰, 1]: the full hash range.
_WS_LO_K, _WS_HI_K = -60, 1
_WS_U = "(CAST(h + 1 AS DOUBLE) / 1.152921504606846976e18)"


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sample without replacement, k = {k}, P(doc) ∝ n_chars —
    Efraimidis–Spirakis exponential clocks: each doc draws
    key = −ln(u)/w from its own deterministic uniform u (salted-hash
    fraction) and the k SMALLEST keys are exactly a weight-proportional
    draw without replacement. The length-biased sample every
    curation-eval loop wants ("inspect docs by their share of the token
    budget, not per-doc"), fully deterministic: u comes from the
    hex→bigint shared text, ln is the portable series logarithm, and
    the IEEE divide is correctly rounded — both engines produce
    bit-identical keys, so the top-k cut is identical too.

    Shape: one narrow map pass computes keys in codegen (no UDF — the
    classic formulation needs pow(u, 1/w), which is libm; −ln(u)/w is
    the same order statistic through the engine's own portable ln),
    then TakeOrderedAndProject k rows — per-partition heaps, no global
    sort, no shuffle beyond the k-row collect."""
    from ..functions import (
        LN_Z_SQL,
        hex_to_bigint_sql,
        ln_from_kz_sql,
        ln_k_sql,
        ln_m_sql,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = hex_to_bigint_sql(
        "substr(sha2(concat('esw:', CAST(doc_id AS STRING)), 256), 1, 15)"
    )
    key = (
        f"-({ln_from_kz_sql('__ln_k', '__ln_z')})"
        " / CAST(n_chars AS DOUBLE)"
    )
    return (
        docs.withColumn("h", F.expr(h))
        .withColumn("__ln_k", F.expr(ln_k_sql(_WS_U, _WS_LO_K, _WS_HI_K)))
        .withColumn(
            "__ln_m", F.expr(ln_m_sql(_WS_U, "__ln_k", _WS_LO_K, _WS_HI_K))
        )
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn("sample_key", F.expr(key))
        .select("doc_id", "n_chars", "sample_key")
        .orderBy("sample_key", "doc_id")
        .limit(_WEIGHTED_SAMPLE_K)
    )


weighted_doc_sample.__doc__ = weighted_doc_sample.__doc__.format(
    k=_WEIGHTED_SAMPLE_K
)


def _weighted_sample_sql() -> str:
    from ..functions import (
        LN_Z_SQL,
        hex_to_bigint_sql,
        ln_from_kz_sql,
        ln_k_sql,
        ln_m_sql,
    )

    h = hex_to_bigint_sql(
        "substr(sha256('esw:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    )
    key = (
        f"-({ln_from_kz_sql('__ln_k', '__ln_z')})"
        " / CAST(n_chars AS DOUBLE)"
    )
    return f"""
    WITH b AS (SELECT doc_id, n_chars, {h} AS h FROM documents),
    s1 AS (SELECT *, {ln_k_sql(_WS_U, _WS_LO_K, _WS_HI_K)} AS __ln_k FROM b),
    s2 AS (SELECT *, {ln_m_sql(_WS_U, "__ln_k", _WS_LO_K, _WS_HI_K)} AS __ln_m
           FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2)
    SELECT doc_id, n_chars, {key} AS sample_key
    FROM s3
    ORDER BY sample_key, doc_id
    LIMIT {_WEIGHTED_SAMPLE_K}
"""


_WEIGHTED_SAMPLE_SQL = _weighted_sample_sql()


# ---------------------------------------------------------------------------
# global shuffle + fixed-size sharding (training export)
# ---------------------------------------------------------------------------

#: Rows per export shard. Sized so sf0.01 (500 docs) produces ~8 shards
#: and the last one is ragged — both branches of the modulo arithmetic
#: get exercised by the oracle.
_SHUFFLE_SHARD_ROWS = 64


def global_shuffle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global pseudorandom shuffle + fixed-size sharding — the export
    step between curation and training: order the corpus by a SALTED
    md5 of doc_id (a deterministic permutation, salted per the
    ``stratified_sample`` independence rule so shuffle position does
    not correlate with split membership) and cut the permuted stream
    into contiguous shards of exactly ``_SHUFFLE_SHARD_ROWS`` rows
    (last shard ragged). Shuffling at export time is what lets a
    training loader read shards SEQUENTIALLY and still see an
    i.i.d.-ish stream — without it, doc_id order leaks collection
    order straight into the curriculum.

    Global positions come from the same two-phase distributed prefix
    pattern as ``token_budget_shards``: range-repartition on the
    shuffle key (ordered ranges → ascending partition ids), row_number
    WITHIN each partition, plus per-partition row-count offsets from
    the tiny (n_ranges)-row totals table — no global single-partition
    window anywhere; Spark's range sort IS the distributed shuffle. The
    eager ``localCheckpoint`` pins the sampled range boundaries for the
    same two-consumer reason documented on ``token_budget_shards``.
    """
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    ranged = (
        docs.repartitionByRange(_SHARD_RANGES, "skey", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local_rn = F.row_number().over(W.partitionBy("pid").orderBy("skey", "doc_id"))
    staged = ranged.withColumn("local_rn", local_rn)
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("pcnt"))
    offsets = _prefix_offsets(counts, "pcnt")
    pos = F.col("offset") + F.col("local_rn") - 1
    return staged.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        F.floor(pos / _SHUFFLE_SHARD_ROWS).alias("shard_id"),
        (pos % _SHUFFLE_SHARD_ROWS).cast("long").alias("pos_in_shard"),
    )


_GLOBAL_SHUFFLE_SQL = f"""
    WITH k AS (
        SELECT doc_id,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
        FROM documents
    ),
    p AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos
        FROM k
    )
    SELECT doc_id,
           CAST(floor(pos / {_SHUFFLE_SHARD_ROWS}) AS BIGINT) AS shard_id,
           CAST(pos % {_SHUFFLE_SHARD_ROWS} AS BIGINT) AS pos_in_shard
    FROM p
"""


# ---------------------------------------------------------------------------
# leakage-safe split (cluster-aware train/test assignment)
# ---------------------------------------------------------------------------


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/test split: every near-dup cluster from
    ``dedup_clusters`` is assigned WHOLLY to one side by hashing its
    cluster label — two near-duplicate documents can never straddle the
    split. The plain ``train_test_split`` hashes each doc_id
    independently, which lets a test doc keep a near-clone in train
    (the leakage that silently inflates eval scores); hashing the
    cluster_id instead makes the split respect the duplicate graph
    STRUCTURALLY, rather than patching it post-hoc with
    ``split_contamination``. Cost over the plain split is exactly the
    ``dedup_clusters`` labeling (bounded, see its docstring) plus a
    per-row md5 — no additional shuffle: the hash is a map over the
    labeled rows. Salted ('csplit:') so cluster assignment is
    independent of both the doc-level split hash and the sampling hash.
    """
    clusters = dedup_clusters(spark, sf_dir)
    prefix = F.substring(
        F.md5(F.concat(F.lit("csplit:"), F.col("cluster_id").cast("string"))), 1, 2
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(prefix <= _TRAIN_PREFIX_MAX, "train").otherwise("test").alias("split"),
    )


_LEAKAGE_SPLIT_SQL = f"""
    WITH cc AS ({_CC_SQL})
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5('csplit:' || CAST(cluster_id AS VARCHAR)), 1, 2)
                     <= '{_TRAIN_PREFIX_MAX}'
                THEN 'train' ELSE 'test' END AS split
    FROM cc
"""


def wds_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training export: assign shards with
    ``global_shuffle_export``, write WebDataset-style tar shards
    (``sources.formats.write_wds_shards`` — per-shard POSIX tars with
    ``<key>.txt`` payload + ``<key>.json`` metadata members, executors
    write their shards directly), then read the manifest BACK from the
    tar files themselves. The oracle replays shard assignment and
    payload sizes from SQL, so a byte lost anywhere in the
    repartition→sort→tar→rename path is a driver-visible mismatch —
    the export is verified from the CONSUMER side, not the writer's
    bookkeeping. Manifest reading is driver-side over shard FILES
    (rows/shard_size of them — control-plane, never samples)."""
    import tempfile

    from ..sources.formats import read_wds_manifest, write_wds_shards

    shards = global_shuffle_export(spark, sf_dir).select("doc_id", "shard_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        "lang",
        "source",
    )
    out = tempfile.mkdtemp(prefix="wds_export_")
    try:
        write_wds_shards(
            docs.join(shards, "doc_id"), out, meta_cols=("lang", "source")
        )
        rows = read_wds_manifest(out)
    finally:
        # The manifest is fully materialized; the tars are scratch.
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    return local_df(
        spark,
        [
            (r["shard_id"], r["n_samples"], r["n_members"], r["payload_bytes"])
            for r in rows
        ],
        "shard_id bigint, n_samples bigint, n_members bigint, payload_bytes bigint",
    )


_WDS_MANIFEST_SQL = f"""
    WITH k AS (
        SELECT doc_id,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
        FROM documents
    ),
    p AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos
        FROM k
    ),
    s AS (
        SELECT doc_id,
               CAST(floor(pos / {_SHUFFLE_SHARD_ROWS}) AS BIGINT) AS shard_id
        FROM p
    )
    SELECT s.shard_id,
           count(*) AS n_samples,
           CAST(2 * count(*) AS BIGINT) AS n_members,
           CAST(sum(octet_length(encode(d.text))) AS BIGINT) AS payload_bytes
    FROM s JOIN documents d USING (doc_id)
    GROUP BY s.shard_id
"""


def wds_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the training export through the ``wds`` PYTHON DATA
    SOURCE (``sources.formats.register_wds_datasource`` — the Spark 4
    custom-connector API): export shards exactly as
    [[wds_export_manifest]] does, then read them back with
    ``spark.read.format("wds").load(dir)`` — Spark plans one task per
    shard tar via the source's own ``partitions()`` — and aggregate
    per shard from the CONSUMED payload bytes. The content-proof
    column ``payload_sha_sum`` (per-shard sum of 12-hex-char sha256
    prefixes of the DECODED payloads) makes a single flipped byte
    anywhere in the write→tar→rename→plan→untar path a driver-visible
    hash mismatch, because the oracle computes the same sum from the
    original documents plus the replayed shard assignment.

    Scale shape: export is [[global_shuffle_export]]'s two-phase
    prefix sum + executor-direct tar writes; read-back parallelism =
    shard count (the loader's unit); the per-shard sha sum is safe in
    BIGINT (≤ {rows}·16¹² ≈ 2e16 per shard). The tmp export is
    scratch — results are eagerly materialized before cleanup.""".format(
        rows=_SHUFFLE_SHARD_ROWS
    )
    import shutil
    import tempfile

    from ..sources.formats import register_wds_datasource, write_wds_shards

    shards = global_shuffle_export(spark, sf_dir).select("doc_id", "shard_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = tempfile.mkdtemp(prefix="wds_ds_")
    try:
        write_wds_shards(docs.join(shards, "doc_id"), out)
        register_wds_datasource(spark)
        back = spark.read.format("wds").load(out)
        agg = (
            back.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_samples"),
                F.sum(F.expr("octet_length(payload)"))
                .cast("bigint")
                .alias("payload_bytes"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.sha2(F.decode("payload", "utf-8"), 256), 1, 12
                        ),
                        16,
                        10,
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("payload_sha_sum"),
            )
        )
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _wds_datasource_sql() -> str:
    from ..functions import hex_to_bigint_sql

    sha12 = hex_to_bigint_sql("substr(sha256(d.text), 1, 12)", width=12)
    return f"""
    WITH k AS (
        SELECT doc_id,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
        FROM documents
    ),
    p AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos
        FROM k
    ),
    s AS (
        SELECT doc_id,
               CAST(floor(pos / {_SHUFFLE_SHARD_ROWS}) AS BIGINT) AS shard_id
        FROM p
    )
    SELECT s.shard_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(octet_length(encode(d.text))) AS BIGINT)
               AS payload_bytes,
           CAST(sum({sha12}) AS BIGINT) AS payload_sha_sum
    FROM s JOIN documents d USING (doc_id)
    GROUP BY s.shard_id
"""


_WDS_DATASOURCE_SQL = _wds_datasource_sql()


# ---------------------------------------------------------------------------
# span corruption masks (T5-style denoising pretraining prep)
# ---------------------------------------------------------------------------

#: A span STARTS at ~5% of token positions (byte < 13 of 256 ≈ 5.1%);
#: requested lengths cycle 1..4 (mean 2.5 → ~12-13% of tokens masked,
#: the usual denoising corruption budget).
_SPAN_START_MAX_BYTE = 13
_SPAN_LEN_MOD = 4


def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic span-corruption mask generation — the data-prep
    step for T5/UL2-style denoising pretraining: for every document,
    the token spans to blank out, chosen by hashing (doc_id, position)
    so the masks are a pure function of the corpus (reproducible across
    runs, engines, and repartitioning — the same determinism discipline
    as every sampler here, vs. the usual ``rand()`` masks that change
    every epoch run). Position i starts a span iff the first md5 byte
    of ``mask:doc:i`` falls under ``_SPAN_START_MAX_BYTE``; the second
    byte picks a 1..``_SPAN_LEN_MOD`` token length, clipped at the doc
    end (both lengths reported — loaders need the requested length for
    sentinel numbering and the clipped one for slicing). Spans may
    touch or overlap; merging is the loader's choice and a trivial
    islands pass downstream.

    Shape: scan → explode positions → narrow JVM hash arithmetic →
    filter — ZERO shuffles; the fan-out is the corpus token count, the
    survivor set ~5% of it. At 100 TB this is embarrassingly parallel
    map work."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    pos = docs.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_tokens") - 1)).alias("i"),
    )
    hx = F.md5(
        F.concat(
            F.lit("mask:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("i").cast("string"),
        )
    )
    b0 = F.conv(F.substring(hx, 1, 2), 16, 10).cast("int")
    b1 = F.conv(F.substring(hx, 3, 2), 16, 10).cast("int")
    req = (F.lit(1) + b1 % _SPAN_LEN_MOD).cast("bigint")
    return (
        pos.select(
            "doc_id",
            F.col("i").cast("bigint").alias("span_start"),
            req.alias("span_len_req"),
            F.least(req, (F.col("n_tokens") - F.col("i")).cast("bigint")).alias(
                "span_len"
            ),
            b0.alias("__b0"),
        )
        .where(F.col("__b0") < _SPAN_START_MAX_BYTE)
        .drop("__b0")
    )


def _span_hexbyte(pos: int) -> str:
    hi = f"strpos('0123456789abcdef', substr(hx, {2 * pos + 1}, 1)) - 1"
    lo = f"strpos('0123456789abcdef', substr(hx, {2 * pos + 2}, 1)) - 1"
    return f"(({hi}) * 16 + ({lo}))"


_SPAN_MASKS_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    pos AS (
        SELECT doc_id, n_tokens, unnest(range(n_tokens)) AS i FROM t
    ),
    h AS (
        SELECT doc_id, n_tokens, i,
               md5('mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS hx
        FROM pos
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS span_start,
           CAST(1 + {_span_hexbyte(1)} % {_SPAN_LEN_MOD} AS BIGINT) AS span_len_req,
           CAST(least(1 + {_span_hexbyte(1)} % {_SPAN_LEN_MOD}, n_tokens - i) AS BIGINT)
               AS span_len
    FROM h
    WHERE {_span_hexbyte(0)} < {_SPAN_START_MAX_BYTE}
"""


def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for recommendation training:
    for every customer, up to 5 parts they never purchased — the
    contrastive pairs a two-tower / matrix-factorization trainer needs
    next to the positive (customer, part) interactions.

    Candidates come from pure hash arithmetic on (customer, slot) —
    not from sampling the part table — so membership is reproducible
    under re-partitioning, appends, and re-runs (the same stability
    argument as [[train_test_split]]), and the whole op is
    value-oracled: DuckDB replays the same integer arithmetic. The
    anti-join against actual purchases is the only wide step, keyed on
    (customer, part) with the purchase side pre-distincted; candidate
    fan-out is a fixed 8 slots per customer, so the join input is
    8×|customers| rows regardless of fact size. Collisions with a
    purchased part or duplicate candidate parts drop a slot (a
    customer can yield <5 negatives) — acceptable and deterministic.
    """
    purchased = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    max_pk = load_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").alias("max_pk")
    )
    cand = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("cust"))
        .crossJoin(F.broadcast(max_pk))
        .select(
            "cust",
            "max_pk",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("slot"),
        )
        .select(
            "cust",
            "slot",
            (
                ((F.col("cust") % 1000003) * 2654435761 + F.col("slot") * 40503)
                % F.col("max_pk")
                + 1
            ).alias("part"),
        )
        # min(slot) per (cust, part): dropDuplicates keeps an ARBITRARY
        # survivor — nondeterministic under partitioning; the grouped min
        # is the same row on every run and every engine.
        .groupBy("cust", "part")
        .agg(F.min("slot").alias("slot"))
    )
    neg = cand.join(purchased, ["cust", "part"], "left_anti")
    w = Window.partitionBy("cust").orderBy("slot")
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            F.col("cust").cast("bigint").alias("cust"),
            F.col("part").cast("bigint").alias("neg_part"),
            F.col("slot").cast("bigint").alias("slot"),
        )
    )


_NEGATIVE_SAMPLES_SQL = """
    WITH purchased AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    mx AS (SELECT max(p_partkey) AS max_pk FROM part),
    slots AS (SELECT unnest(range(0, 8)) AS slot),
    cand AS (
        SELECT c.c_custkey AS cust,
               ((c.c_custkey % 1000003) * 2654435761 + s.slot * 40503)
                   % mx.max_pk + 1 AS part,
               min(s.slot) AS slot
        FROM customer c CROSS JOIN slots s CROSS JOIN mx
        GROUP BY 1, 2
    ),
    neg AS (
        SELECT cand.* FROM cand
        ANTI JOIN purchased USING (cust, part)
    ),
    ranked AS (
        SELECT cust, part, slot,
               row_number() OVER (PARTITION BY cust ORDER BY slot) AS rk
        FROM neg
    )
    SELECT CAST(cust AS BIGINT) AS cust,
           CAST(part AS BIGINT) AS neg_part,
           CAST(slot AS BIGINT) AS slot
    FROM ranked WHERE rk <= 5
"""


_AFFINITY_MIN_ORDERS = 2


def _triangles_id_oriented(edges: DataFrame):
    """Node-iterator triangle enumeration over id-oriented edges
    ``(u, v)`` with u < v: wedge u<v<w through the middle vertex, then
    one closing-edge equi-join. Returns ``(wedges, triangles)``.

    Wedge fan-out at a vertex is in-deg × out-deg under ID order — on a
    power-law graph a hub with a mid-range id generates O(deg²) wedge
    rows. Kept for the equivalence test; production uses
    `_triangles_degree_oriented`."""
    wedges = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
        )
    )
    triangles = wedges.join(
        edges.select(F.col("u").alias("u"), F.col("v").alias("w")), ["u", "w"]
    )
    return wedges, triangles


def _triangles_degree_oriented(edges: DataFrame):
    """Triangle enumeration with DEGREE orientation: rank(x) =
    (deg(x), x); every undirected edge points low-rank → high-rank, a
    triangle is two out-edges of its lowest-ranked vertex plus the
    directed closing edge between their heads. Returns
    ``(wedges, triangles)``.

    Out-degree under this orientation is O(√m) for EVERY vertex
    (a vertex with out-degree d has d neighbors of degree ≥ its own, so
    d² ≤ Σdeg = 2m) — wedge volume is Σ out-deg² ≤ 2m·√m worst-case vs
    the unbounded deg² of an unluckily-id'd hub. This is the standard
    power-law-safe formulation (node-iterator++ / compact-forward).

    Shuffle shape: one vertex-keyed degree aggregate over 2|E| rows,
    two |V|-row joins to tag endpoint degrees, then the same wedge +
    closing joins as the id variant. The degree table and directed edge
    list are both |E|-bounded — nothing new materializes at corpus
    scale."""
    deg = (
        edges.select(F.col("u").alias("p"))
        .union(edges.select("v"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tagged = (
        edges.join(
            deg.select(F.col("p").alias("u"), F.col("deg").alias("du")), "u"
        ).join(deg.select(F.col("p").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = tagged.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )
    # two out-edges of the same src, ordered by head rank so each
    # unordered head pair appears once
    head_lt = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = (
        directed.alias("e1")
        .join(directed.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .where(head_lt)
        .select(
            F.col("e1.src").alias("apex"),
            F.col("e1.dst").alias("a"),
            F.col("e2.dst").alias("b"),
        )
    )
    # closing edge is directed a → b because rank(a) < rank(b) by head_lt
    triangles = wedges.join(
        directed.select(F.col("src").alias("a"), F.col("dst").alias("b")), ["a", "b"]
    )
    return wedges, triangles


def part_affinity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRIANGLE COUNT over the part-affinity graph (edge =
    two parts co-ordered in ≥ ``_AFFINITY_MIN_ORDERS`` distinct orders)
    — the clustering-structure metric of market-basket analysis, and
    the third leg of the engine's graph suite next to connected
    components (`dedup_clusters`) and PageRank.

    Scale shape, in order: (1) the SUPPORT FILTER (min co-order count)
    is applied before any wedge is formed — raw co-occurrence pairs
    aggregate with map-side combine and infrequent pairs (the heavy
    tail) die at the first shuffle; (2) edges are DEGREE-ORIENTED
    (r8 verdict item 3): every edge points from its lower-(degree, id)
    endpoint to the higher one, so each triangle is generated exactly
    once as a pair of out-edges from its lowest-ranked vertex and
    closed with one more equi-join — and a hub's edges all point INTO
    it, capping per-vertex wedge fan-out at O(√m) out-degree instead
    of the O(deg²) an id-ordered hub suffers on power-law graphs
    (`_triangles_degree_oriented`; the id-oriented variant is kept for
    the equivalence pytest). Cost over id-orientation: one degree
    aggregation + two joins against the |V|-row degree table.
    All-integer output; the triangle COUNT is orientation-invariant,
    so the DuckDB oracle keeps the simple id-oriented replay."""
    # Edge list from the memoized affinity-edge table (`_affinity_edges`
    # — shared with the edge-Jaccard query; the parquet materialization
    # also serves the FOUR consumers inside this query: wedge join
    # twice, closing-edge join, node/edge counts. Measured 13 s -> ~3 s
    # at sf0.1 vs re-running the lineitem self-join per consumer).
    edges = _affinity_edges(spark, sf_dir)
    _, triangles = _triangles_degree_oriented(edges)
    nodes = edges.select(F.col("u").alias("p")).union(edges.select("v")).distinct()
    return (
        nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))))
        .crossJoin(
            F.broadcast(triangles.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
        )
    )


_TRIANGLES_SQL = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    ),
    tri AS (
        SELECT count(*) AS n FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(DISTINCT p) AS BIGINT)
            FROM (SELECT u AS p FROM edges UNION ALL SELECT v FROM edges))
               AS n_parts,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles
"""


_LIFT_TOP_N = 20


def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by LIFT — P(a,b)/(P(a)·P(b)) over order
    baskets, the association-rule score that separates "bought together
    because both are popular" from genuine affinity. Computed entirely
    in integers: lift·10⁶ = n_ab·n_orders·10⁶ div (n_a·n_b), so the
    ranking key is bit-identical on both engines; ties break on the
    pair key, making the LIMIT cutoff deterministic.

    Scale shape: per-part and per-pair counts are map-side-combined
    aggregates; the support filter (≥ ``_AFFINITY_MIN_ORDERS``
    co-orders) kills the random-co-occurrence tail before the two
    frequency joins; the top-20 is TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    pf = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ab = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= _AFFINITY_MIN_ORDERS)
    )
    scored = (
        ab.join(pf.select(F.col("l_partkey").alias("u"), F.col("n").alias("n_a")), "u")
        .join(pf.select(F.col("l_partkey").alias("v"), F.col("n").alias("n_b")), "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("u").alias("u_partkey"),
            F.col("v").alias("v_partkey"),
            F.col("n_ab").alias("n_copurchases"),
            F.expr("n_ab * n_orders * 1000000 div (n_a * n_b)")
            .cast("bigint")
            .alias("lift_e6"),
        )
    )
    return scored.orderBy(
        F.desc("lift_e6"), "u_partkey", "v_partkey"
    ).limit(_LIFT_TOP_N)


_LIFT_SQL = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    no_ AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM li),
    pf AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
           FROM li GROUP BY 1),
    ab AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    )
    SELECT ab.u AS u_partkey, ab.v AS v_partkey,
           ab.n_ab AS n_copurchases,
           CAST(ab.n_ab * no_.n_orders * 1000000 // (pa.n * pb.n)
                AS BIGINT) AS lift_e6
    FROM ab
    CROSS JOIN no_
    JOIN pf pa ON pa.l_partkey = ab.u
    JOIN pf pb ON pb.l_partkey = ab.v
    ORDER BY lift_e6 DESC, u_partkey, v_partkey
    LIMIT {_LIFT_TOP_N}
"""


def copurchase_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE neighborhood Jaccard over the part-affinity graph —
    the classic link-prediction / node-similarity score: for each
    qualified edge (u, v), |N(u)∩N(v)| div |N(u)∪N(v)| in integer
    permille, where the common-neighbor count is exactly the number of
    triangles through the edge and |N(u)∪N(v)| = deg(u)+deg(v)−common
    (endpoints are each other's neighbors, so the denominator is ≥ 2
    and the division is total). The fourth leg of the graph suite:
    components (`dedup_clusters`), PageRank, triangle census, and now
    edge similarity.

    Scale shape: triangles are enumerated ONCE with the power-law-safe
    degree orientation (`_triangles_degree_oriented`, wedge volume
    O(m^1.5) regardless of hubs), then each triangle (apex, a, b)
    scatters +1 to its three undirected edges — a 3×|Δ| explode into a
    map-side-combined count, NOT a per-edge wedge re-join. Degrees are
    one vertex-keyed aggregate over 2|E| rows; the final assembly is
    two |V|-row joins onto the |E|-row edge list. Triangle-free edges
    survive via the left join with common = 0.

    The DuckDB oracle replays the simpler id-oriented enumeration —
    per-edge triangle counts are orientation-invariant, so the two
    engines agree bit-for-bit on every row."""
    # Memoized edge table (shared with part_affinity_triangles) — it
    # feeds the degree agg, the triangle enumeration, and the final
    # join here.
    edges = _affinity_edges(spark, sf_dir)
    _, triangles = _triangles_degree_oriented(edges)
    # scatter each triangle to its three undirected edges, normalized
    # u < v (degree orientation does not respect id order)
    tri_edges = (
        triangles.select(
            F.array(
                F.struct(F.col("apex").alias("x"), F.col("a").alias("y")),
                F.struct(F.col("apex").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
            ).alias("es")
        )
        .select(F.explode("es").alias("e"))
        .select(
            F.least("e.x", "e.y").alias("u"), F.greatest("e.x", "e.y").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    deg = (
        edges.select(F.col("u").alias("p"))
        .union(edges.select("v"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return (
        edges.join(tri_edges, ["u", "v"], "left")
        .join(deg.select(F.col("p").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("p").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.col("u").alias("u_partkey"),
            F.col("v").alias("v_partkey"),
            F.coalesce(F.col("common"), F.lit(0).cast("bigint")).alias(
                "common_neighbors"
            ),
            F.expr(
                "1000 * coalesce(common, 0L)"
                " div (du + dv - coalesce(common, 0L))"
            ).alias("jaccard_permille"),
        )
    )


_NEIGHBOR_JACCARD_SQL = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tri_edges AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS common
        FROM (
            SELECT x AS u, y AS v FROM tri
            UNION ALL SELECT y, z FROM tri
            UNION ALL SELECT x, z FROM tri
        )
        GROUP BY u, v
    ),
    deg AS (
        SELECT p, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS p FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY p
    )
    SELECT e.u AS u_partkey, e.v AS v_partkey,
           COALESCE(t.common, 0) AS common_neighbors,
           (1000 * COALESCE(t.common, 0))
               // (du.deg + dv.deg - COALESCE(t.common, 0))
               AS jaccard_permille
    FROM edges e
    LEFT JOIN tri_edges t ON t.u = e.u AND t.v = e.v
    JOIN deg du ON du.p = e.u
    JOIN deg dv ON dv.p = e.v
"""


_BFS_SEED_MOD = 500  # deterministic seed set: p_partkey % _BFS_SEED_MOD == 7
_BFS_MAX_HOPS = 3


def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS over the co-purchase graph — the fifth leg of
    the graph suite (components, PageRank, triangles, edge similarity,
    now REACHABILITY): minimum hop distance (≤ 3) from a deterministic
    seed set ("parts under recall investigation", every 500th key) to
    every part it can contaminate through co-purchase adjacency — the
    blast-radius query behind recalls, fraud spread, and related-item
    expansion.

    Distributed shape is textbook frontier expansion (Pregel-lite):
    each round joins the CURRENT FRONTIER (not the visited set) against
    the undirected edge list — a key-partitioned hash join whose probe
    side only ever holds the newest ring — distincts the neighbors,
    and anti-joins the visited set so every vertex keeps its FIRST
    (minimum) hop count. ``operators.rounds.iterate`` runs the hops and
    cuts only each new ring: the visited set is the union of the cut
    rings, whose blocks re-read for free, so no round copies it. At
    100 TB the edge list persists pre-bucketed on ``u`` so every
    round's join is shuffle-free on the edge side.

    The oracle unrolls the three rounds as CTEs (the house style for
    iterative algorithms — see PageRank/BPE): two independent
    formulations, one answer."""
    edges = _affinity_edges(spark, sf_dir)
    und = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    rings: list[DataFrame] = []

    def expand(ring: DataFrame, hop: int, _obs: Observation) -> DataFrame:
        rings.append(ring)  # the last cut ring: frontier, and visited with the rest
        nbrs = (
            ring.join(und, ring.part == und.u, "inner")
            .select(F.col("v").alias("part"))
            .distinct()
        )
        return nbrs.join(
            reduce(DataFrame.unionByName, rings), "part", "left_anti"
        ).withColumn("hops", F.lit(hop).cast("bigint"))

    seed = rounds.cut(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % _BFS_SEED_MOD == 7)
        .select(F.col("p_partkey").alias("part"), F.lit(0).cast("bigint").alias("hops"))
    )
    last = rounds.iterate(seed, expand, max_rounds=_BFS_MAX_HOPS)
    known = reduce(DataFrame.unionByName, rings + [last])
    return known.select(F.col("part").alias("p_partkey"), "hops")


_BFS_SQL = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    ),
    eu AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    d0 AS (SELECT p_partkey AS part FROM part
           WHERE p_partkey % {_BFS_SEED_MOD} = 7),
    n1 AS (
        SELECT DISTINCT e.v AS part FROM d0 JOIN eu e ON e.u = d0.part
        WHERE e.v NOT IN (SELECT part FROM d0)
    ),
    n2 AS (
        SELECT DISTINCT e.v AS part FROM n1 JOIN eu e ON e.u = n1.part
        WHERE e.v NOT IN (SELECT part FROM d0)
          AND e.v NOT IN (SELECT part FROM n1)
    ),
    n3 AS (
        SELECT DISTINCT e.v AS part FROM n2 JOIN eu e ON e.u = n2.part
        WHERE e.v NOT IN (SELECT part FROM d0)
          AND e.v NOT IN (SELECT part FROM n1)
          AND e.v NOT IN (SELECT part FROM n2)
    )
    SELECT part AS p_partkey, CAST(0 AS BIGINT) AS hops FROM d0
    UNION ALL SELECT part, CAST(1 AS BIGINT) FROM n1
    UNION ALL SELECT part, CAST(2 AS BIGINT) FROM n2
    UNION ALL SELECT part, CAST(3 AS BIGINT) FROM n3
"""


_SOURCE_CAP_N = 20  # max docs per source


def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the crawl-balancing sample every
    web-scale corpus applies so one prolific domain can't dominate the
    mix: keep at most ``_SOURCE_CAP_N`` docs per source, chosen in
    md5-hash order (deterministic, portable "random" — the same idiom
    as the hash splits, so membership is stable under repartitioning
    and appends). One source-key shuffle; the rank window is bounded
    by the per-source doc count and the cap keeps the output ~|sources|
    × cap regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank_in_source") <= _SOURCE_CAP_N)
        .select("doc_id", "source", "rank_in_source")
    )


_SOURCE_CAP_SQL = f"""
    SELECT doc_id, source, rank_in_source
    FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id
               ) AS BIGINT) AS rank_in_source
        FROM documents
    )
    WHERE rank_in_source <= {_SOURCE_CAP_N}
"""


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (the multilingual/multi-
    domain sampling standard, p_i ∝ n_i^α): per-source sampling weight
    at α = 1/2 in integer permille. α = 1/2 specifically because
    ``sqrt`` is an IEEE-754 BASIC operation — correctly rounded in
    every engine — unlike ``pow``/``ln`` whose last-ulp divergence the
    exactness rules ban (SCALE.md arithmetic traps); the flattening
    floor(sqrt(n_tokens)) is therefore bit-portable. Reports raw vs
    flattened shares side by side: the flattened permille is what a
    mixture sampler consumes; the delta shows how much the temperature
    lifts low-resource sources. Two tiny aggregates over one narrow
    scan — all output BIGINT."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    per_source = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    ).withColumn("w_sqrt", F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint"))
    totals = per_source.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w_sqrt").alias("tot_w")
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(1000 * n_tokens) div tot_tokens").alias("raw_permille"),
            F.expr("(1000 * w_sqrt) div tot_w").alias("temp_permille"),
        )
    )


_MIXTURE_TEMP_SQL = r"""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    w AS (
        SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt
        FROM per_source
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
               CAST(sum(w_sqrt) AS BIGINT) AS tot_w
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           (1000 * n_tokens) // tot_tokens AS raw_permille,
           (1000 * w_sqrt) // tot_w AS temp_permille
    FROM w, tot
"""


_LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 4096)


def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report — the inference/training-serving
    prep step that decides padding waste: assign every document to the
    smallest power-of-two-ish length bucket that fits its token count,
    then report per bucket how many tokens a pad-to-bucket-max batcher
    would move vs how many are real. ``waste_permille`` is the metric a
    bucketing config is tuned on (more buckets → less padding, more
    ragged batches). The bucket ladder is a generated CASE chain — no
    log2/pow floats anywhere; all output exact BIGINT off one narrow
    scan + one bucket-key aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    bucket = F.lit(_LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS[:-1]):
        bucket = F.when(F.col("n_tokens") <= b, F.lit(b)).otherwise(bucket)
    return (
        docs.withColumn("bucket_max", bucket.cast("bigint"))
        .groupBy("bucket_max")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("real_tokens"),
        )
        .withColumn("padded_tokens", F.expr("n_docs * bucket_max"))
        .withColumn(
            "waste_permille",
            F.expr("(1000 * (padded_tokens - real_tokens)) div padded_tokens"),
        )
    )


def _len_buckets_sql() -> str:
    ladder = " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in _LEN_BUCKETS[:-1]
    )
    return rf"""
    WITH toks AS (
        SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT n_tokens,
               CAST(CASE {ladder} ELSE {_LEN_BUCKETS[-1]} END AS BIGINT)
                   AS bucket_max
        FROM toks
    ),
    agg AS (
        SELECT bucket_max,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS real_tokens
        FROM bucketed GROUP BY bucket_max
    )
    SELECT bucket_max, n_docs, real_tokens,
           n_docs * bucket_max AS padded_tokens,
           (1000 * (n_docs * bucket_max - real_tokens))
               // (n_docs * bucket_max) AS waste_permille
    FROM agg
"""


_KCORE_K = 2  # core threshold: every surviving vertex keeps >= k in-core neighbors
_KCORE_MAX_PEELS = 8  # oracle unroll depth; fixpoint margin pinned by pytest
# (measured peels to fixpoint: sf0.001 → 0, sf0.01 → 3, sf0.1 → 5)


def _k_core(eu: DataFrame, k: int, max_peels: int) -> DataFrame:
    """Iterative k-core peeling over an UNDIRECTED edge list ``eu``
    (both orientations present): repeatedly drop vertices whose degree
    within the surviving subgraph falls below ``k`` until fixpoint (or
    ``max_peels`` rounds — the oracle's unroll depth, so both engines
    compute the identical bounded-peel semantics even unconverged;
    peeling is idempotent at fixpoint, so an early stop equals running
    all rounds). Returns the surviving vertices with their in-core
    degree.

    Distributed shape per round: two vertex-keyed SEMI joins restrict
    the edge list to the surviving subgraph (the edge table never
    rewrites — only the shrinking vertex set reshuffles), one map-side-
    combined degree aggregate, one filter, run by
    ``operators.rounds.iterate``. A round that peels no vertex of
    degree in (0, k) is the fixpoint: a vertex that left the aggregate
    had no in-core edge, so losing it changes no degree. At 100 TB the
    edge list persists bucketed by ``u`` so the probe side of both semi
    joins stays shuffle-free; rounds are O(peel depth), which
    degree-skewed real graphs keep small for low k."""

    def peel(alive: DataFrame, _rnd: int, obs: Observation) -> DataFrame:
        sub = eu.join(alive, "u", "semi").join(
            alive.select(F.col("u").alias("v")), "v", "semi"
        )
        return (
            sub.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .observe(obs, F.count(F.when(F.col("deg") < k, 1)).alias("peeled"))
            .where(F.col("deg") >= k)
            .select("u")
        )

    alive = rounds.iterate(
        rounds.cut(eu.select("u").distinct()),
        peel,
        max_rounds=max_peels,
        converged=lambda probe: probe["peeled"] == 0,
        on_bound="stop",
    )
    core_edges = eu.join(alive, "u", "semi").join(
        alive.select(F.col("u").alias("v")), "v", "semi"
    )
    return core_edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def k_core_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph — the sixth leg of
    the graph suite (components, PageRank, triangles, edge similarity,
    BFS reachability, now CORENESS): the maximal subgraph in which
    every part co-purchases with >= k other in-core parts. The k-core
    is the standard "dense nucleus" screen — recommendation candidates,
    fraud rings, and community seeds all start from it, because
    pendant/chain vertices (most of a power-law graph) die in the first
    peel and never pollute downstream mining.

    Reuses the memoized support-filtered edge table
    (``_affinity_edges``) shared by the triangle/Jaccard/BFS queries;
    the oracle unrolls ``_KCORE_MAX_PEELS`` peel rounds as CTE pairs
    (degree -> filter), the house style for iterative algorithms
    (PageRank/BPE/BFS) — two independent formulations, one answer. A
    pytest pins the fixpoint margin (unroll depth converges with >= 2
    rounds to spare at the driver's sf) so the bounded-peel equals the
    true k-core on every graded dataset."""
    edges = _affinity_edges(spark, sf_dir)
    eu = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    core = _k_core(eu, _KCORE_K, _KCORE_MAX_PEELS)
    return core.select(F.col("u").alias("p_partkey"), "core_degree")


def _k_core_sql() -> str:
    # Every CTE is MATERIALIZED: each peel round references the
    # previous vertex set TWICE (both endpoints), so inlining doubles
    # the expression tree per round — 2^depth copies of the edge-build
    # chain. DuckDB's heuristic missed it at sf0.1 (the query ran
    # minutes instead of milliseconds); forcing materialization makes
    # the oracle O(depth · |E|) like the Spark side.
    rounds = []
    prev = "v0"
    for i in range(1, _KCORE_MAX_PEELS + 1):
        rounds.append(
            f"""
    d{i} AS MATERIALIZED (
        SELECT e.u, count(*) AS deg
        FROM eu e
        JOIN {prev} a ON e.u = a.u
        JOIN {prev} b ON e.v = b.u
        GROUP BY e.u
    ),
    v{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE deg >= {_KCORE_K})"""
        )
        prev = f"v{i}"
    chain = ",".join(rounds)
    return f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    ),
    eu AS MATERIALIZED (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    v0 AS MATERIALIZED (SELECT DISTINCT u FROM eu),{chain}
    SELECT e.u AS p_partkey, CAST(count(*) AS BIGINT) AS core_degree
    FROM eu e
    JOIN {prev} a ON e.u = a.u
    JOIN {prev} b ON e.v = b.u
    GROUP BY e.u
"""


_TE_FOLDS = 5  # K-fold assignment: fold = c_custkey % _TE_FOLDS


def target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-FOLD TARGET ENCODING — the standard categorical
    encoder for gradient-boosted / linear models: replace a category
    (market segment) by the mean of the target (order value) computed
    WITHOUT the encoded row's own fold, so a model trained on the
    encoding never sees its own labels (the leak naive mean-encoding
    ships). Folds are deterministic (``c_custkey % K`` — the same
    portable-hash discipline as the train/test splits, so membership
    survives repartitioning and appends).

    The leave-fold-out identity does all the work: enc(seg, fold) =
    (S_seg − s_fold) / (N_seg − n_fold) needs only the per-(segment,
    fold) partials and the per-segment totals — ONE map-side-combined
    aggregate at (segment, fold) grain, re-aggregated to segment grain
    driver-free, then a broadcast join back. No per-row second pass: a
    trainer joins this ~|segments|×K table onto the fact by (segment,
    fold). Exact integer cents with floor division — no float mean
    drift between engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") % _TE_FOLDS).cast("bigint").alias("fold"),
    )
    per_fold = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "fold")
        .agg(
            F.sum("cents").alias("fold_sum"),
            F.count(F.lit(1)).alias("fold_n"),
        )
    )
    per_seg = per_fold.groupBy("c_mktsegment").agg(
        F.sum("fold_sum").alias("seg_sum"), F.sum("fold_n").alias("seg_n")
    )
    return (
        per_fold.join(F.broadcast(per_seg), "c_mktsegment")
        .select(
            "c_mktsegment",
            "fold",
            F.expr("(seg_sum - fold_sum) div (seg_n - fold_n)").alias(
                "loo_mean_cents"
            ),
            (F.col("seg_n") - F.col("fold_n")).alias("loo_n"),
        )
    )


_TARGET_ENC_SQL = f"""
    WITH per_fold AS (
        SELECT c.c_mktsegment,
               CAST(c.c_custkey % {_TE_FOLDS} AS BIGINT) AS fold,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS fold_sum,
               CAST(count(*) AS BIGINT) AS fold_n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    per_seg AS (
        SELECT c_mktsegment,
               CAST(sum(fold_sum) AS BIGINT) AS seg_sum,
               CAST(sum(fold_n) AS BIGINT) AS seg_n
        FROM per_fold GROUP BY 1
    )
    SELECT f.c_mktsegment, f.fold,
           (s.seg_sum - f.fold_sum) // (s.seg_n - f.fold_n)
               AS loo_mean_cents,
           s.seg_n - f.fold_n AS loo_n
    FROM per_fold f JOIN per_seg s USING (c_mktsegment)
"""


_FX_BUCKETS = 1024  # hashing-trick width


def hashed_feature_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK for categorical feature crosses — the CTR-model
    encoder that maps the unbounded cross (segment × priority ×
    weekday) into a fixed ``_FX_BUCKETS``-wide space without a vocab
    build or a second pass: bucket = sha256(cross) mod width. The
    output is the per-bucket training statistic (rows, exact revenue
    cents) PLUS the collision audit (distinct crosses per bucket) that
    decides whether the width is adequate — the measurement half of
    the trick most pipelines skip.

    Portability: weekday comes from EPOCH-DAY ARITHMETIC (days since a
    fixed Monday, mod 7) — NOT dayofweek(), whose 0/1-origin and week
    start differ across engines; the hash is the shared
    ``hex_to_bigint_sql`` text over a fixed-width sha256 slice
    ([[customer_masked_export]] family), so bucket assignment is
    engine-exact. One join + one bucket-key aggregate, output bounded
    by the width forever."""
    from ..functions import hex_to_bigint_sql

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("od"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    crossed = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn(
            "wd", F.expr("CAST(datediff(od, DATE '1970-01-05') % 7 AS BIGINT)")
        )
        .withColumn(
            "cross",
            F.concat_ws(
                "|", "c_mktsegment", "o_orderpriority", F.col("wd").cast("string")
            ),
        )
        # sha2 staged through a plan_barrier'd column — inlined into the
        # 15-digit hex decode it runs 15x per fact row (r13
        # codegen-CSE lesson, plans.stats._boot_totals)
        .withColumn(
            "hx", F.expr("substr(sha2(concat('fx:', cross), 256), 1, 15)")
        )
    )
    from ..functions import plan_barrier

    crossed = plan_barrier(crossed).withColumn(
        "bucket", F.expr(hex_to_bigint_sql("hx") + f" % {_FX_BUCKETS}")
    )
    return crossed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cross").alias("n_distinct_crosses"),
        F.sum("cents").alias("revenue_cents"),
    )


def _fx_sql() -> str:
    from ..functions import hex_to_bigint_sql

    return f"""
    WITH crossed AS (
        SELECT c.c_mktsegment || '|' || o.o_orderpriority || '|'
                   || CAST(CAST(datediff('day', DATE '1970-01-05',
                                         CAST(o.o_orderdate AS DATE)) % 7
                                AS BIGINT) AS VARCHAR) AS "cross",
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    bucketed AS (
        SELECT {hex_to_bigint_sql('''substr(sha256('fx:' || "cross"), 1, 15)''')}
                   % {_FX_BUCKETS} AS bucket,
               "cross", cents
        FROM crossed
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT "cross") AS BIGINT) AS n_distinct_crosses,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM bucketed
    GROUP BY bucket
"""


_LPA_ITERS = 3


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LABEL PROPAGATION over the part co-purchase graph —
    community detection, the graph primitive the family still lacked
    (next to [[dedup_clusters]] = connectivity,
    [[supplier_copurchase_pagerank]] = centrality, [[k_core_vertices]]
    = density, [[part_affinity_triangles]] = closure): labels start as
    node ids, and each round every node adopts the MAJORITY label among
    its neighbors (Raghavan et al. 2007). Communities are denser than
    connected components (a bridge edge joins two CCs but rarely flips
    a majority) — the catalog view a merchandiser reads as "product
    families that sell together".

    Deterministic by construction, so VALUE-oracled: synchronous
    updates (round t+1 reads only round t), integer labels, ties
    broken (highest count, then smallest label) via ``min_by(label,
    struct(-cnt, label))`` — the DuckDB replay unrolls the same
    ``_LPA_ITERS`` rounds as ranked CTE layers (the pagerank idiom).

    Scale shape per round: one equi-join of the undirected edge list
    (the memoized ``_affinity_edges`` parquet — shared with the
    triangle/jaccard consumers) against the label table on the
    neighbor key, one (node, label) hash agg, one per-node argmax agg,
    run by ``operators.rounds.iterate``. Labels are one row per node;
    edges never change."""
    edges = _affinity_edges(spark, sf_dir)
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

    def vote(labels: DataFrame, _rnd: int, _obs: Observation) -> DataFrame:
        # Every node in the edge list has ≥1 neighbor, so the argmax
        # aggregate covers every node — no left-join fallback needed.
        return (
            und.join(labels, und.v == labels.node)
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.expr("min_by(label, struct(-cnt, label))").alias("label"))
        )

    seed = rounds.cut(und.select(F.col("u").alias("node"), F.col("u").alias("label")).distinct())
    labels = rounds.iterate(seed, vote, max_rounds=_LPA_ITERS)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("part"),
        F.col("label").alias("community"),
        "community_size",
    )


def _lpa_sql() -> str:
    """DuckDB replay: same support-filtered edges, ``_LPA_ITERS``
    unrolled synchronous rounds with the (count desc, label asc)
    tie-break as ranked CTE layers."""
    rounds = []
    prev = "l0"
    for t in range(_LPA_ITERS):
        rounds.append(f"""l{t + 1} AS (
        SELECT node, label FROM (
            SELECT e.u AS node, l.label, count(*) AS cnt,
                   row_number() OVER (PARTITION BY e.u
                       ORDER BY count(*) DESC, l.label) AS rn
            FROM und e JOIN {prev} l ON l.node = e.v
            GROUP BY e.u, l.label
        ) WHERE rn = 1
    )""")
        prev = f"l{t + 1}"
    layers = ",\n    ".join(rounds)
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
    ),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
    {layers},
    sizes AS (
        SELECT label, CAST(count(*) AS BIGINT) AS community_size
        FROM {prev} GROUP BY label
    )
    SELECT l.node AS part, l.label AS community, s.community_size
    FROM {prev} l JOIN sizes s USING (label)
"""


_PREF_PAIRS_PER_GROUP = 5  # pairs mined per source group
_PREF_MARGIN_MIN_MILLI = 200  # required chosen-rejected score gap


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-PAIR mining for DPO/RLHF-style training — given a
    scored candidate pool, emit (chosen, rejected) pairs per group with
    a minimum score margin: rank each source's documents by the shared
    quality-classifier score ([[quality_classifier_score]]'s per-doc
    apply pass, ``textops._qc_scores``) and zip the TOP-m against the
    BOTTOM-m by rank (best-vs-worst, 2nd-best-vs-2nd-worst, …),
    keeping a pair only when the margin clears
    ``_PREF_MARGIN_MIN_MILLI`` — margin-less pairs teach a preference
    model nothing and the guard also excludes any degenerate
    chosen==rejected collision in small groups. Deterministic: ranks
    tie-break on doc_id (ascending on the chosen side, DESCENDING on
    the rejected side, so an all-tied group still pairs distinct
    docs before the margin guard drops it).

    Scale shape: the score pass is the classifier apply (explode →
    broadcast model join → doc-grain agg); pairing adds ONE shuffle on
    ``source`` shared by both rank windows (each bounded by the group
    size), and the rank-equi self-join matches at most
    ``_PREF_PAIRS_PER_GROUP`` rows per group — output is
    |groups|·m rows regardless of corpus size. All-integer columns."""
    from ..functions import plan_barrier
    from .textops import _qc_scores

    scores = plan_barrier(
        _qc_scores(spark, sf_dir).select("doc_id", "source", "score_milli")
    )
    return _pair_by_rank(scores, _PREF_PAIRS_PER_GROUP, _PREF_MARGIN_MIN_MILLI)


def _pair_by_rank(scores: DataFrame, m: int, margin_min: int) -> DataFrame:
    """Pairing core of [[preference_pairs]] over any (doc_id, source,
    score_milli) frame — separated so the tie/margin properties are
    unit-testable on planted inputs (tests/test_windows_mlprep.py)."""
    top_w = Window.partitionBy("source").orderBy(
        F.col("score_milli").desc(), F.col("doc_id").asc()
    )
    bot_w = Window.partitionBy("source").orderBy(
        F.col("score_milli").asc(), F.col("doc_id").desc()
    )
    chosen = (
        scores.withColumn("pair_rank", F.row_number().over(top_w).cast("bigint"))
        .where(F.col("pair_rank") <= m)
        .select(
            "source",
            "pair_rank",
            F.col("doc_id").alias("chosen_doc"),
            F.col("score_milli").alias("chosen_score_milli"),
        )
    )
    rejected = (
        scores.withColumn("pair_rank", F.row_number().over(bot_w).cast("bigint"))
        .where(F.col("pair_rank") <= m)
        .select(
            "source",
            "pair_rank",
            F.col("doc_id").alias("rejected_doc"),
            F.col("score_milli").alias("rejected_score_milli"),
        )
    )
    return (
        chosen.join(rejected, ["source", "pair_rank"])
        .withColumn(
            "margin_milli",
            F.col("chosen_score_milli") - F.col("rejected_score_milli"),
        )
        .where(F.col("margin_milli") >= margin_min)
        .select(
            "source",
            "pair_rank",
            "chosen_doc",
            "rejected_doc",
            "chosen_score_milli",
            "rejected_score_milli",
            "margin_milli",
        )
    )


def _pref_pairs_sql() -> str:
    from .textops import _qc_per_doc_ctes

    return f"""{_qc_per_doc_ctes()},
    chosen AS (
        SELECT source, doc_id, score_milli,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score_milli DESC, doc_id ASC) AS BIGINT)
                   AS pair_rank
        FROM per_doc
    ),
    rejected AS (
        SELECT source, doc_id, score_milli,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score_milli ASC, doc_id DESC) AS BIGINT)
                   AS pair_rank
        FROM per_doc
    )
    SELECT c.source, c.pair_rank,
           c.doc_id AS chosen_doc, r.doc_id AS rejected_doc,
           c.score_milli AS chosen_score_milli,
           r.score_milli AS rejected_score_milli,
           c.score_milli - r.score_milli AS margin_milli
    FROM chosen c
    JOIN rejected r ON r.source = c.source AND r.pair_rank = c.pair_rank
    WHERE c.pair_rank <= {_PREF_PAIRS_PER_GROUP}
      AND r.pair_rank <= {_PREF_PAIRS_PER_GROUP}
      AND c.score_milli - r.score_milli >= {_PREF_MARGIN_MIN_MILLI}
"""


# ---------------------------------------------------------------------------
# data-constrained epoch scheduling (waterfilling under a repetition cap)
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4  # max epochs per source (Muennighoff et al. 2023: repeated
# data holds value to ~4 epochs, decays after)
_EPOCH_BUDGET_NUM = 19  # training budget = 19/5 = 3.8x the corpus tokens —
_EPOCH_BUDGET_DEN = 5  # lands the water level mid-range so both the capped
# and uncapped branches execute on the test corpus


def epoch_waterfill_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED training schedule — how many epochs of each
    source to run when the token budget exceeds the corpus (Muennighoff
    et al. 2023, "Scaling Data-Constrained Language Models"): give
    every source an EQUAL share of the budget (the balanced-mixture
    ideal), but cap any source at ``_EPOCH_CAP`` epochs of its own
    tokens (repetition stops helping), and WATERFILL the freed budget
    back into the uncapped sources. Exact integer waterfilling: sort
    sources by capacity, a source at rank k caps iff
    ``c_k·(n−k+1) ≤ B − S_{k−1}`` (cross-multiplied — no division, no
    floats), then the uncapped water level is one truncating div of
    the residual budget. Output: per-source allocation + epochs in
    exact milli-epochs.

    Scale shape: the data-sized work is ONE source-key token-count
    shuffle; everything after operates on |sources| rows — prefix sums
    via the triangular join (house rule: no single-partition window),
    scalars broadcast. The schedule itself is control-plane sized, as
    it should be: it feeds a training launcher, not a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    t = (
        docs.select("source", F.size(toks).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("t"))
        .withColumn("c", (F.lit(_EPOCH_CAP) * F.col("t")).cast("bigint"))
        .localCheckpoint()  # |sources| rows feed 3 joins below
    )
    tot = t.agg(
        F.sum("t").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).withColumn(
        "b",
        F.expr(
            f"CAST(({_EPOCH_BUDGET_NUM} * tot) div {_EPOCH_BUDGET_DEN}"
            " AS BIGINT)"
        ),
    )
    lhs = t.select(
        F.col("source").alias("src"), F.col("t").alias("ti"), F.col("c").alias("ci")
    )
    rhs = t.select(F.col("source").alias("src2"), F.col("c").alias("cj"))
    pref = (
        lhs.join(
            rhs,
            (F.col("cj") < F.col("ci"))
            | ((F.col("cj") == F.col("ci")) & (F.col("src2") < F.col("src"))),
            "left",
        )
        .groupBy("src", "ti", "ci")
        .agg(
            F.coalesce(F.sum("cj"), F.lit(0)).cast("bigint").alias("s_prev"),
            F.count("src2").cast("bigint").alias("k_prev"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "capped",
            (F.col("ci") * (F.col("n") - F.col("k_prev")))
            <= (F.col("b") - F.col("s_prev")),
        )
    )
    caps = pref.agg(
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .cast("bigint")
        .alias("k_star"),
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("ci"))), F.lit(0))
        .cast("bigint")
        .alias("s_star"),
    )
    return (
        pref.crossJoin(F.broadcast(caps))
        .withColumn(
            "level",
            F.expr(
                "CAST((b - s_star) div greatest(n - k_star, 1) AS BIGINT)"
            ),
        )
        .select(
            F.col("src").alias("source"),
            F.col("ti").alias("corpus_tokens"),
            F.col("ci").alias("capacity_tokens"),
            "capped",
            F.when(F.col("capped"), F.col("ci"))
            .otherwise(F.col("level"))
            .cast("bigint")
            .alias("alloc_tokens"),
            F.expr(
                "CAST((1000 * (CASE WHEN capped THEN ci ELSE level END))"
                " div ti AS BIGINT)"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


_EPOCH_WF_SQL = rf"""
    WITH t AS (
        SELECT source,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                    AS BIGINT) AS t,
               CAST({_EPOCH_CAP} * sum(len(regexp_split_to_array(trim(text),
                    '\s+'))) AS BIGINT) AS c
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(t) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n,
               CAST(({_EPOCH_BUDGET_NUM} * sum(t))
                    // {_EPOCH_BUDGET_DEN} AS BIGINT) AS b
        FROM t
    ),
    r AS (
        SELECT t.source, t.t AS ti, t.c AS ci, tot.n, tot.b,
               CAST(coalesce(sum(t.c) OVER (ORDER BY t.c, t.source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS s_prev,
               CAST(row_number() OVER (ORDER BY t.c, t.source) - 1
                    AS BIGINT) AS k_prev
        FROM t, tot
    ),
    m AS (
        SELECT *, (ci * (n - k_prev) <= b - s_prev) AS capped FROM r
    ),
    ks AS (
        SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS k_star,
               CAST(coalesce(sum(CASE WHEN capped THEN ci END), 0)
                    AS BIGINT) AS s_star
        FROM m
    ),
    f AS (
        SELECT m.*,
               CAST((m.b - ks.s_star)
                    // greatest(m.n - ks.k_star, 1) AS BIGINT) AS level
        FROM m, ks
    )
    SELECT source,
           ti AS corpus_tokens,
           ci AS capacity_tokens,
           capped,
           CAST(CASE WHEN capped THEN ci ELSE level END AS BIGINT)
               AS alloc_tokens,
           CAST((1000 * (CASE WHEN capped THEN ci ELSE level END)) // ti
               AS BIGINT) AS epochs_milli
    FROM f
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# distributed logistic-regression probe (batch gradient descent as Spark jobs)
# ---------------------------------------------------------------------------

_LR_POS_MIN = 64  # y=1: docs with >= this many whitespace tokens
_LR_NEG_MAX = 48  # y=0: docs with <= this many; the open band is dropped
_LR_PIVOT = 56  # feature centering for the token-count axis
_LR_ROUNDS = 16
_LR_STEP = 0.5  # < 2/L for this feature scaling (||x||² <= ~8.3, L <= 2.1)
_LR_ACC_MIN_PERMILLE = 950


def logreg_probe_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC-REGRESSION probe trainer — the linear-probe
    / quality-classifier TRAINING loop every curation stack runs on the
    cluster (``quality_classifier_score`` is the apply side of this
    pass; DSIR, fasttext filters, and toxicity probes all train this
    way): batch gradient descent where each round is ONE Spark job over
    the materialized feature table — per-round the d+1 partial sums
    (gradient coordinates + loss) reduce map-side into a SINGLE
    collected row, the weight update is d driver-side floats, and the
    next round's plan embeds the new weights as literals. The corpus
    never reaches the driver; rounds × one-scan is the whole cost, the
    canonical distributed-ML split (same control-plane class as
    [[pca_power_iteration_check]]'s collected Gram).

    The probe task is PLANTED so the gate is decidable: features
    [bias, (n_tokens−pivot)/20, distinct-token ratio, avg-token-len/5],
    label = long-doc (n >= pos cut), with the open (neg, pos) margin
    band dropped — linearly separable with margin 0.4 on one axis, so
    GD at a descent-guaranteed step must reach accuracy >= 0.95 with
    strictly decreasing loss. ``n_rows``/``n_pos`` replay exactly in
    SQL; the booleans are the gate (oracle states them true — a
    non-converging trainer is a driver-visible hash mismatch)."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    feats = (
        docs.select(
            n_tok.alias("n"),
            F.size(F.array_distinct(toks)).alias("nd"),
            F.length(F.trim(F.col("text"))).alias("nchars"),
        )
        .where((F.col("n") >= _LR_POS_MIN) | (F.col("n") <= _LR_NEG_MAX))
        .select(
            F.when(F.col("n") >= _LR_POS_MIN, 1.0).otherwise(0.0).alias("y"),
            F.lit(1.0).alias("x0"),
            ((F.col("n") - F.lit(_LR_PIVOT)) / 20.0).alias("x1"),
            (F.col("nd") / F.col("n")).alias("x2"),
            ((F.col("nchars") - (F.col("n") - 1)) / F.col("n") / 5.0).alias(
                "x3"
            ),
        )
        .localCheckpoint()  # one materialization feeds all GD rounds
    )
    d = 4
    w = [0.0] * d
    losses = []
    for _ in range(_LR_ROUNDS):
        z = sum(
            (F.col(f"x{j}") * float(w[j]) for j in range(1, d)),
            F.col("x0") * float(w[0]),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            F.avg((F.lit(1.0) - F.col("y")) * z + F.log1p(F.exp(-z))).alias(
                "loss"
            ),
            *[
                F.avg((p - F.col("y")) * F.col(f"x{j}")).alias(f"g{j}")
                for j in range(d)
            ],
        ).collect()[0]
        losses.append(float(row["loss"]))
        for j in range(d):
            w[j] -= _LR_STEP * float(row[f"g{j}"])
    zf = sum(
        (F.col(f"x{j}") * float(w[j]) for j in range(1, d)),
        F.col("x0") * float(w[0]),
    )
    fin = feats.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("y") > 0.5, 1).otherwise(0)).alias("n_pos"),
        F.sum(
            F.when((zf > 0) == (F.col("y") > 0.5), 1).otherwise(0)
        ).alias("n_correct"),
    ).collect()[0]
    n_rows = int(fin["n_rows"])
    accuracy_ok = bool(
        n_rows > 0
        and 1000 * int(fin["n_correct"]) >= _LR_ACC_MIN_PERMILLE * n_rows
    )
    loss_monotone = bool(
        n_rows > 0
        and all(
            b < a and math.isfinite(a) and math.isfinite(b)
            for a, b in zip(losses, losses[1:])
        )
    )
    return local_df(
        spark,
        [
            (
                n_rows,
                int(fin["n_pos"]),
                _LR_ROUNDS,
                accuracy_ok,
                loss_monotone,
            )
        ],
        "n_rows bigint, n_pos bigint, n_rounds bigint,"
        " accuracy_ok boolean, loss_monotone boolean",
    )


_LOGREG_SQL = rf"""
    WITH t AS (
        SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE n >= {_LR_POS_MIN}) AS BIGINT)
               AS n_pos,
           CAST({_LR_ROUNDS} AS BIGINT) AS n_rounds,
           true AS accuracy_ok,
           true AS loss_monotone
    FROM t
    WHERE n >= {_LR_POS_MIN} OR n <= {_LR_NEG_MAX}
"""


# ---------------------------------------------------------------------------
# DoReMi domain reweighting (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DOREMI_ROUNDS = 3  # unrolled multiplicative-weight rounds
_DOREMI_LO_K, _DOREMI_HI_K = -48, 1  # portable-ln exponent range: the
# mixture floor is clamped at p = 1e-12 (see greatest(p12, 1)), well
# inside 2^-48 ≈ 3.6e-15
_DOREMI_Q9 = 1_000_000_000  # per-(domain, token) probability quantum:
# q9 = (1e9 * c) // tot — the domain LM's token probability in nano
# units, floored ONCE so every downstream mixture sum is pure integer
_DOREMI_ETA = 50  # multiplicative-weights step size (per nat of excess
# loss). The synthetic corpus's domains draw from one shared
# vocabulary, so excess runs 0.005-0.02 nats — at eta = 1 the update
# never crosses the 1-permille output quantum; eta = 50 makes a
# 0.02-nat-harder domain double its weight per round while keeping
# every product far inside BIGINT (w <= 1000 * (1e6 + 50*28e6) ~ 1.4e12)


def _doremi_stage_sqls(p: str) -> tuple[str, str, str, str]:
    """(ln_k, ln_m, ln_z, micronats-term) SQL texts for the portable
    series ln over probability expression ``p`` — the
    [[unigram_surprisal]] idiom at the DoReMi exponent range."""
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    return (
        ln_k_sql(p, _DOREMI_LO_K, _DOREMI_HI_K),
        ln_m_sql(p, "__ln_k", _DOREMI_LO_K, _DOREMI_HI_K),
        LN_Z_SQL,
        f"CAST(floor(-({ln_from_kz_sql('__ln_k', '__ln_z')}) * 1.0e6)"
        " AS BIGINT)",
    )


_DOREMI_P_REF = "(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))"
_DOREMI_P_MIX = "(CAST(p12 AS DOUBLE) / 1.0e12)"


def _doremi_normalize(w: dict[str, int]) -> dict[str, int]:
    """Largest-remainder normalization of integer weights to EXACTLY
    1000 permille: floor shares first, then +1 to the ``leftover``
    domains with the largest remainders (ties broken by source name
    ascending) — the same rank predicate the oracle's correlated
    count subquery evaluates, so the integers match bit-for-bit."""
    big_w = sum(w.values())
    share = {s: (1000 * v) // big_w for s, v in w.items()}
    rem = {s: (1000 * v) % big_w for s, v in w.items()}
    leftover = 1000 - sum(share.values())
    for s in sorted(w, key=lambda s: (-rem[s], s))[:leftover]:
        share[s] += 1
    return share


def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi DOMAIN REWEIGHTING (Xie et al., NeurIPS 2023 — "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    the Group-DRO loop that decides how much of each DOMAIN (source)
    a pretraining mixture should sample — domains whose EXCESS LOSS
    (loss under the shared proxy model minus loss under a domain-own
    reference) is large are upweighted multiplicatively each round,
    so the mixture shifts toward domains the generalist model serves
    worst. This composes the engine's surprisal machinery
    ([[unigram_surprisal]]'s portable-ln micronats) with its mixture
    machinery ([[mixture_temperature_weights]],
    [[token_balanced_mixture]]) into the feedback loop neither has
    alone.

    Model stand-ins (no neural training in SQL, by design): the
    domain-own REFERENCE is the domain's unigram MLE (per Gibbs, the
    minimum-cross-entropy model of its own token distribution, so
    excess ≥ 0 by construction); the shared PROXY at round t is the
    α_t-weighted MIXTURE of the domain unigram LMs — as α shifts
    toward a hard domain, the mixture's loss on it falls, which is
    exactly the DoReMi proxy-retraining feedback, miniaturized. The
    update is the multiplicative-weights form α′ ∝ α·(1 + η·excess)
    (Arora-Hazan-Kale's (1+ηg) rule, η = ``_DOREMI_ETA`` per nat, the
    first-order form of DoReMi's
    exponentiated gradient — exp is not IEEE-basic, so the integer-
    exact (1+g) variant keeps the whole loop bit-portable), followed
    by largest-remainder normalization to EXACTLY 1000 permille.

    Integer-exact end to end: domain LMs quantize ONCE to nano units
    (``_DOREMI_Q9``), mixture mass is an integer sum of α·q9 products
    (order-free), the portable series ln floors to micronats before
    any aggregation, and the weight algebra (shares, remainders,
    rank ties by source) is pure integer — DuckDB replays all
    ``_DOREMI_ROUNDS`` rounds unrolled (the PageRank/BPE CTE pattern)
    bit-for-bit.

    Scale shape: the corpus is scanned ONCE into the (domain, token)
    count grain (one token-key shuffle, map-side combined; Zipf × |D|
    bounded). Each round touches ONLY that grain — one token-key
    aggregate for the mixture, one source-key rollup for the loss —
    and the per-round weight update runs driver-side on |domains|
    rows (the [[bradley_terry_strengths]] control-plane idiom; the
    collects here are ≤ |D| rows each, bounded and documented)."""
    ct = _doremi_positions(spark, sf_dir).groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return _doremi_from_counts(spark, ct)


def _doremi_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).where(F.length("token") > 0)


def _doremi_from_counts(spark: SparkSession, ct: DataFrame) -> DataFrame:
    """The DoReMi loop downstream of the (source, token, c) count grain
    — shared by the one-shot query (counts from one corpus scan) and
    [[doremi_two_batch]] (counts folded incrementally). See
    [[doremi_domain_weights]] for the algorithm and exactness notes."""
    tots = ct.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    # (source, token, c, tot, q9) — read by the reference pass and by
    # every round's mixture+loss pass: compute once.
    ctq = (
        ct.join(tots, "source")
        .withColumn(
            "q9", F.expr(f"CAST(({_DOREMI_Q9} * c) DIV tot AS BIGINT)")
        )
        .localCheckpoint()
    )
    tot_by_src = {r["source"]: int(r["tot"]) for r in tots.collect()}

    k_sql, m_sql, z_sql, term = _doremi_stage_sqls(_DOREMI_P_REF)
    ref_rows = (
        ctq.withColumn("__ln_k", F.expr(k_sql))
        .withColumn("__ln_m", F.expr(m_sql))
        .withColumn("__ln_z", F.expr(z_sql))
        .groupBy("source")
        .agg(F.sum(F.col("c") * F.expr(term)).cast("bigint").alias("rsum"))
        .collect()
    )
    rmean = {r["source"]: int(r["rsum"]) // tot_by_src[r["source"]] for r in ref_rows}

    # alpha_0: equal split, largest-remainder to exactly 1000 permille
    # (base + 1 for the first 1000 % |D| sources by name).
    sources = sorted(tot_by_src)
    n_dom = len(sources)
    alpha = {
        s: 1000 // n_dom + (1 if i < 1000 % n_dom else 0)
        for i, s in enumerate(sources)
    }

    k_sql, m_sql, z_sql, term = _doremi_stage_sqls(_DOREMI_P_MIX)
    excess: dict[str, int] = {s: 0 for s in sources}
    for _ in range(_DOREMI_ROUNDS):
        alpha_df = local_df(
            spark,
            sorted(alpha.items()),
            "source string, alpha bigint",
        )
        pm = (
            ctq.join(F.broadcast(alpha_df), "source")
            .groupBy("token")
            .agg(
                F.expr(
                    "greatest(CAST(sum(alpha * q9) AS BIGINT), 1)"
                ).alias("p12")
            )
        )
        smicro = (
            pm.withColumn("__ln_k", F.expr(k_sql))
            .withColumn("__ln_m", F.expr(m_sql))
            .withColumn("__ln_z", F.expr(z_sql))
            .select("token", F.expr(term).alias("smicro"))
        )
        loss_rows = (
            ctq.join(smicro, "token")
            .groupBy("source")
            .agg(F.sum(F.col("c") * F.col("smicro")).cast("bigint").alias("lsum"))
            .collect()
        )
        lmean = {r["source"]: int(r["lsum"]) // tot_by_src[r["source"]] for r in loss_rows}
        excess = {s: max(lmean[s] - rmean[s], 0) for s in sources}
        alpha = _doremi_normalize(
            {s: alpha[s] * (1_000_000 + _DOREMI_ETA * excess[s]) for s in sources}
        )

    out = [
        (s, tot_by_src[s], excess[s], alpha[s]) for s in sources
    ]
    return local_df(
        spark,
        out,
        "source string, n_tokens bigint, excess_micronats bigint,"
        " weight_permille bigint",
    )


def _doremi_sql() -> str:
    k_r, m_r, z_r, term_r = _doremi_stage_sqls(_DOREMI_P_REF)
    k_x, m_x, z_x, term_x = _doremi_stage_sqls(_DOREMI_P_MIX)
    rounds = []
    prev = "a0"
    for r in range(1, _DOREMI_ROUNDS + 1):
        rounds.append(
            f"""
    pm_{r} AS MATERIALIZED (
        SELECT token,
               greatest(CAST(sum(a.alpha * q.q9) AS BIGINT), 1) AS p12
        FROM ctq q JOIN {prev} a USING (source)
        GROUP BY token
    ),
    sx_{r}a AS (SELECT token, p12, {k_x} AS __ln_k FROM pm_{r}),
    sx_{r}b AS (SELECT *, {m_x} AS __ln_m FROM sx_{r}a),
    sx_{r}c AS (SELECT *, {z_x} AS __ln_z FROM sx_{r}b),
    sx_{r} AS MATERIALIZED (SELECT token, {term_x} AS smicro FROM sx_{r}c),
    l_{r} AS (
        SELECT q.source,
               CAST(CAST(sum(q.c * s.smicro) AS BIGINT) // max(q.tot)
                    AS BIGINT) AS lmean
        FROM ctq q JOIN sx_{r} s USING (token)
        GROUP BY q.source
    ),
    e_{r} AS MATERIALIZED (
        SELECT l.source, greatest(l.lmean - rf.rmean, 0) AS excess
        FROM l_{r} l JOIN refl rf USING (source)
    ),
    w_{r} AS MATERIALIZED (
        SELECT a.source, a.alpha * (1000000 + {_DOREMI_ETA} * e.excess) AS w
        FROM {prev} a JOIN e_{r} e USING (source)
    ),
    sh_{r} AS MATERIALIZED (
        SELECT source,
               CAST((1000 * w) // (SELECT sum(w) FROM w_{r}) AS BIGINT)
                   AS share,
               CAST((1000 * w) % (SELECT sum(w) FROM w_{r}) AS BIGINT)
                   AS rem
        FROM w_{r}
    ),
    a_{r} AS MATERIALIZED (
        SELECT s1.source,
               s1.share + CASE WHEN (
                   SELECT count(*) FROM sh_{r} s2
                   WHERE s2.rem > s1.rem
                      OR (s2.rem = s1.rem AND s2.source < s1.source)
               ) < (SELECT 1000 - sum(share) FROM sh_{r}) THEN 1 ELSE 0 END
                   AS alpha
        FROM sh_{r} s1
    )"""
        )
        prev = f"a_{r}"
    rounds_sql = ",".join(rounds)
    return rf"""
    WITH ct AS MATERIALIZED (
        SELECT source, token, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents
        )
        WHERE length(token) > 0
        GROUP BY 1, 2
    ),
    tots AS MATERIALIZED (
        SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM ct GROUP BY 1
    ),
    ctq AS MATERIALIZED (
        SELECT ct.source, token, c, tot,
               CAST(({_DOREMI_Q9} * c) // tot AS BIGINT) AS q9
        FROM ct JOIN tots USING (source)
    ),
    sr_a AS (SELECT source, token, c, tot, {k_r} AS __ln_k FROM ctq),
    sr_b AS (SELECT *, {m_r} AS __ln_m FROM sr_a),
    sr_c AS (SELECT *, {z_r} AS __ln_z FROM sr_b),
    refl AS MATERIALIZED (
        SELECT source,
               CAST(CAST(sum(c * {term_r}) AS BIGINT) // max(tot) AS BIGINT)
                   AS rmean
        FROM sr_c
        GROUP BY source
    ),
    a0 AS MATERIALIZED (
        SELECT t.source,
               (1000 // (SELECT count(*) FROM tots))
               + CASE WHEN (
                     SELECT count(*) FROM tots t2 WHERE t2.source < t.source
                 ) < (1000 % (SELECT count(*) FROM tots)) THEN 1 ELSE 0 END
                   AS alpha
        FROM tots t
    ),{rounds_sql}
    SELECT a.source,
           t.tot AS n_tokens,
           e.excess AS excess_micronats,
           a.alpha AS weight_permille
    FROM a_{_DOREMI_ROUNDS} a
    JOIN tots t USING (source)
    JOIN e_{_DOREMI_ROUNDS} e USING (source)
    ORDER BY a.source
"""


_DOREMI_SQL = _doremi_sql()


def doremi_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained DoReMi — the shape domain reweighting
    runs in production: corpora arrive in crawl batches, and the
    (source, token, c) count grain is a pure commutative monoid, so
    new batches FOLD into the persisted counts
    (``operators.maintenance.merge_aggregate``, keys = (source, token))
    and the whole reweighting loop re-runs on the folded state —
    document history is never re-scanned. Two doc_id-median batches
    here; the convergence contract is the
    [[bradley_terry_two_batch]] pattern: the oracle is
    [[doremi_domain_weights]]'s FULL one-shot unrolled SQL, so
    fold(b1) ⊕ fold(b2) must reproduce the one-shot weights
    bit-for-bit or the driver hash fails.

    Scale shape: per batch, one (source, token) shuffle over the BATCH
    only; the persisted state is the Zipf × |domains|-bounded count
    table however long crawl history grows; the reweighting loop
    ([[_doremi_from_counts]]) touches only that state."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate

    positions = _doremi_positions(spark, sf_dir).localCheckpoint()
    mid = positions.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="doremict_")
    try:
        state = None
        for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
            state = merge_aggregate(
                spark,
                f"{tmp}/counts",
                positions.where(pred).select("source", "token"),
                keys=["source", "token"],
                sums=[],
                count_col="c",
            )
        ct = state.select("source", "token", F.col("c").cast("bigint").alias("c"))
        return _doremi_from_counts(spark, ct).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES = {
    "doremi_domain_weights": doremi_domain_weights,
    "doremi_two_batch": doremi_two_batch,
    "logreg_probe_check": logreg_probe_check,
    "epoch_waterfill_schedule": epoch_waterfill_schedule,
    "source_cap_sample": source_cap_sample,
    "preference_pairs": preference_pairs,
    "mixture_temperature_weights": mixture_temperature_weights,
    "length_bucketed_batches": length_bucketed_batches,
    "part_affinity_triangles": part_affinity_triangles,
    "part_affinity_lift": part_affinity_lift,
    "copurchase_neighbor_jaccard": copurchase_neighbor_jaccard,
    "copurchase_bfs_hops": copurchase_bfs_hops,
    "k_core_vertices": k_core_vertices,
    "target_encoding_kfold": target_encoding_kfold,
    "hashed_feature_crosses": hashed_feature_crosses,
    "label_propagation_communities": label_propagation_communities,
    "dedup_rate_by_source": dedup_rate_by_source,
    "negative_samples": negative_samples,
    "train_test_split": train_test_split,
    "wds_export_manifest": wds_export_manifest,
    "wds_datasource_roundtrip": wds_datasource_roundtrip,
    "span_corruption_masks": span_corruption_masks,
    "leakage_safe_split": leakage_safe_split,
    "global_shuffle_export": global_shuffle_export,
    "stratified_sample": stratified_sample,
    "stratified_topk_sample": stratified_topk_sample,
    "weighted_doc_sample": weighted_doc_sample,
    "split_contamination": split_contamination,
    "token_budget_shards": token_budget_shards,
    "pack_sequences": pack_sequences,
    "pack_sequences_greedy": pack_sequences_greedy,
    "curation_funnel": curation_funnel,
    "curation_pipeline_end_to_end": curation_pipeline_end_to_end,
    "dedup_clusters": dedup_clusters,
    "cluster_size_histogram": cluster_size_histogram,
    "cluster_representatives": cluster_representatives,
    "supplier_copurchase_pagerank": supplier_copurchase_pagerank,
    "doc_tfidf_topterms": doc_tfidf_topterms,
    "balanced_downsample": balanced_downsample,
    "token_balanced_mixture": token_balanced_mixture,
    "bloom_decontaminate": bloom_decontaminate,
}

ORACLES = {
    "doremi_domain_weights": _DOREMI_SQL,
    # fold(b1) ⊕ fold(b2) must reproduce the ONE-SHOT loop bit-for-bit
    "doremi_two_batch": _DOREMI_SQL,
    "logreg_probe_check": _LOGREG_SQL,
    "epoch_waterfill_schedule": _EPOCH_WF_SQL,
    "source_cap_sample": _SOURCE_CAP_SQL,
    "preference_pairs": _pref_pairs_sql(),
    "mixture_temperature_weights": _MIXTURE_TEMP_SQL,
    "length_bucketed_batches": _len_buckets_sql(),
    "part_affinity_triangles": _TRIANGLES_SQL,
    "part_affinity_lift": _LIFT_SQL,
    "copurchase_neighbor_jaccard": _NEIGHBOR_JACCARD_SQL,
    "copurchase_bfs_hops": _BFS_SQL,
    "k_core_vertices": _k_core_sql(),
    "target_encoding_kfold": _TARGET_ENC_SQL,
    "hashed_feature_crosses": _fx_sql(),
    "label_propagation_communities": _lpa_sql(),
    "dedup_rate_by_source": _DEDUP_RATE_SQL,
    "negative_samples": _NEGATIVE_SAMPLES_SQL,
    "train_test_split": _SPLIT_SQL,
    "wds_export_manifest": _WDS_MANIFEST_SQL,
    "wds_datasource_roundtrip": _WDS_DATASOURCE_SQL,
    "span_corruption_masks": _SPAN_MASKS_SQL,
    "leakage_safe_split": _LEAKAGE_SPLIT_SQL,
    "global_shuffle_export": _GLOBAL_SHUFFLE_SQL,
    "stratified_sample": _STRATIFIED_SQL,
    "stratified_topk_sample": _TOPK_SAMPLE_SQL,
    "weighted_doc_sample": _WEIGHTED_SAMPLE_SQL,
    "split_contamination": _CONTAM_SQL,
    "token_budget_shards": _SHARDS_SQL,
    "pack_sequences": _PACK_SQL,
    "pack_sequences_greedy": _PACK_GREEDY_SQL,
    "curation_funnel": _funnel_sql(),
    "curation_pipeline_end_to_end": _curation_pipeline_sql(),
    "dedup_clusters": _CC_SQL,
    "cluster_size_histogram": _CLUSTER_HIST_SQL,
    "cluster_representatives": _REPS_SQL,
    "supplier_copurchase_pagerank": _pagerank_sql(),
    "doc_tfidf_topterms": _TFIDF_SQL,
    "balanced_downsample": _BALANCED_SQL,
    "token_balanced_mixture": _MIXTURE_SQL,
    "bloom_decontaminate": _BLOOM_SQL,
}
