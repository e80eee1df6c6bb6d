"""Streaming Bronze→Silver: foreachBatch micro-batches into SCD2Table
(streaming.streaming_scd2). The streamed result must converge to exactly
what the batch upserts over the same files produce, and the stream
checkpoint must prevent reprocessing on a second run.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pyspark.sql.types as T

from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table
from azure_sales_etl_pipeline_spark.streaming import streaming_scd2

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("segment", T.StringType()),
    ]
)


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, "id int, name string, segment string").coalesce(
        1
    ).write.option("header", "true").mode("overwrite").csv(path)


def _hist(dim):
    return sorted(
        (r["id"], r["name"], r["segment"], r["is_current"])
        for r in dim.history().collect()
    )


def test_streaming_scd2_converges_to_batch_result(spark, tmp_path):
    src = tmp_path / "landing"
    _write_csv(spark, [(1, "Alice", "RETAIL"), (2, "Bob", "CORP")], str(src / "b1"))

    clock = {"now": dt.datetime(2024, 1, 1)}
    stream_dim = SCD2Table(
        spark, str(tmp_path / "stream_dim"), "id", clock=lambda: clock["now"]
    )
    ckpt = str(tmp_path / "ckpt")
    glob = str(src) + "/*"
    streaming_scd2(spark, glob, _SCHEMA, stream_dim, checkpoint=ckpt)
    assert _hist(stream_dim) == [
        (1, "Alice", "RETAIL", True),
        (2, "Bob", "CORP", True),
    ]

    # second file lands: one update, one insert; restart the stream with
    # the SAME checkpoint — only the new file is processed
    clock["now"] = dt.datetime(2024, 2, 1)
    _write_csv(spark, [(1, "Alice", "WHOLESALE"), (3, "Cara", "CORP")], str(src / "b2"))
    streaming_scd2(spark, glob, _SCHEMA, stream_dim, checkpoint=ckpt)

    # batch reference: same two upserts applied directly
    batch_dim = SCD2Table(
        spark, str(tmp_path / "batch_dim"), "id", clock=lambda: dt.datetime(2024, 1, 1)
    )
    batch_dim.upsert(
        spark.createDataFrame(
            [(1, "Alice", "RETAIL"), (2, "Bob", "CORP")],
            "id int, name string, segment string",
        )
    )
    batch_dim.clock = lambda: dt.datetime(2024, 2, 1)
    batch_dim.upsert(
        spark.createDataFrame(
            [(1, "Alice", "WHOLESALE"), (3, "Cara", "CORP")],
            "id int, name string, segment string",
        )
    )
    assert _hist(stream_dim) == _hist(batch_dim)

    # idempotent restart: nothing new → no reprocessing, history unchanged
    before = _hist(stream_dim)
    streaming_scd2(spark, glob, _SCHEMA, stream_dim, checkpoint=ckpt)
    assert _hist(stream_dim) == before


def test_streaming_mart_matches_batch_aggregate(spark, tmp_path):
    """Two streamed micro-batch files must leave the mart exactly equal
    to one batch aggregate over their union."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.writer import read_table
    from azure_sales_etl_pipeline_spark.streaming import streaming_mart

    schema = T.StructType(
        [
            T.StructField("day", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    src = tmp_path / "facts"
    rows1 = [("2024-01-01", 10.0), ("2024-01-01", 5.0), ("2024-01-02", 7.0)]
    rows2 = [("2024-01-02", 3.0), ("2024-01-03", 1.0)]
    spark.createDataFrame(rows1, "day string, amount double").coalesce(1).write.option(
        "header", "true"
    ).csv(str(src / "f1"))
    mart = str(tmp_path / "mart")
    ckpt = str(tmp_path / "ckpt")
    glob = str(src) + "/*"
    streaming_mart(spark, glob, schema, mart, keys=["day"], sums=["amount"], checkpoint=ckpt)
    spark.createDataFrame(rows2, "day string, amount double").coalesce(1).write.option(
        "header", "true"
    ).csv(str(src / "f2"))
    streaming_mart(spark, glob, schema, mart, keys=["day"], sums=["amount"], checkpoint=ckpt)

    got = sorted(
        (r["day"], round(r["amount"], 2), r["n_rows"])
        for r in read_table(spark, mart).collect()
    )
    full = (
        spark.createDataFrame(rows1 + rows2, "day string, amount double")
        .groupBy("day")
        .agg(F.sum("amount").alias("amount"), F.count(F.lit(1)).alias("n"))
    )
    want = sorted((r["day"], round(r["amount"], 2), r["n"]) for r in full.collect())
    assert got == want


def test_streaming_mart_refuses_foreign_checkpoint(spark, tmp_path):
    """A fresh checkpoint against an existing mart would replay every
    file into already-folded aggregates — must refuse, not double."""
    import pytest

    from azure_sales_etl_pipeline_spark.streaming import streaming_mart

    schema = T.StructType(
        [T.StructField("day", T.StringType()), T.StructField("amount", T.DoubleType())]
    )
    src = tmp_path / "facts"
    spark.createDataFrame(
        [("2024-01-01", 1.0)], "day string, amount double"
    ).coalesce(1).write.option("header", "true").csv(str(src / "f1"))
    mart = str(tmp_path / "mart")
    glob = str(src) + "/*"
    streaming_mart(spark, glob, schema, mart, keys=["day"], sums=["amount"],
                   checkpoint=str(tmp_path / "ckpt_a"))
    with pytest.raises(ValueError, match="replay already-folded"):
        streaming_mart(spark, glob, schema, mart, keys=["day"], sums=["amount"],
                       checkpoint=str(tmp_path / "ckpt_b"))


def test_streaming_mart_marker_commits_atomically_with_swap(spark, tmp_path):
    """The replay marker must live INSIDE the mart directory and carry
    the folded batch_id — committed by the same rename as the data, so a
    crash can never leave a folded-but-unrecorded batch (ADVICE r3).
    Simulates the crash-replay path: rolling the marker back to the
    previous state (as a crash before the swap would leave it) and
    redelivering must refold; leaving the post-swap marker must skip."""
    import json

    from azure_sales_etl_pipeline_spark.operators.maintenance import merge_aggregate
    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_commit_meta,
        read_table,
    )
    from azure_sales_etl_pipeline_spark.streaming import streaming_mart

    schema = T.StructType(
        [T.StructField("day", T.StringType()), T.StructField("amount", T.DoubleType())]
    )
    src = tmp_path / "facts"
    spark.createDataFrame(
        [("2024-01-01", 2.0)], "day string, amount double"
    ).coalesce(1).write.option("header", "true").csv(str(src / "f1"))
    mart = str(tmp_path / "mart")
    ckpt = str(tmp_path / "ckpt")
    streaming_mart(spark, str(src) + "/*", schema, mart, keys=["day"], sums=["amount"],
                   checkpoint=ckpt)

    meta = read_commit_meta(mart)
    assert meta is not None and meta["checkpoint"] == ckpt
    assert meta["batch_id"] >= 0
    # the marker lives in the version pointer, committed with the data
    assert json.loads((Path(mart) / "_current_version.json").read_text())["meta"] == meta
    # No stray marker outside the swapped directory.
    assert not Path(mart + "._mart_commit").exists()

    # merge_aggregate must stage commit_meta through the same swap.
    batch = spark.createDataFrame([("2024-01-02", 9.0)], "day string, amount double")
    merge_aggregate(spark, mart, batch, keys=["day"], sums=["amount"],
                    commit_meta={"checkpoint": ckpt, "batch_id": meta["batch_id"] + 1})
    meta2 = read_commit_meta(mart)
    assert meta2["batch_id"] == meta["batch_id"] + 1
    total = read_table(spark, mart).groupBy().sum("amount").collect()[0][0]
    assert round(total, 2) == 11.0


def test_streaming_sketch_mart_distinct_estimates(spark, tmp_path):
    """Two streamed batches fold HLL sketches into the mart; the final
    per-key estimates equal exact distinct counts over the union (the
    low-cardinality exact regime), and the replay marker advances."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_commit_meta,
        read_table,
    )
    from azure_sales_etl_pipeline_spark.streaming import streaming_sketch_mart

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    src = tmp_path / "events"
    rows1 = [("click", 1), ("click", 2), ("view", 1)]
    rows2 = [("click", 2), ("click", 3), ("view", 9)]
    spark.createDataFrame(rows1, "event_type string, user_id long").coalesce(
        1
    ).write.option("header", "true").csv(str(src / "f1"))
    mart = str(tmp_path / "dmart")
    ckpt = str(tmp_path / "dckpt")
    glob = str(src) + "/*"
    streaming_sketch_mart(
        spark, glob, schema, mart, keys=["event_type"], distinct_col="user_id",
        checkpoint=ckpt,
    )
    spark.createDataFrame(rows2, "event_type string, user_id long").coalesce(
        1
    ).write.option("header", "true").csv(str(src / "f2"))
    streaming_sketch_mart(
        spark, glob, schema, mart, keys=["event_type"], distinct_col="user_id",
        checkpoint=ckpt,
    )

    est = {
        r["event_type"]: r["n"]
        for r in read_table(spark, mart)
        .select("event_type", F.hll_sketch_estimate("distinct_sk").alias("n"))
        .collect()
    }
    assert est == {"click": 3, "view": 2}
    marker = read_commit_meta(mart)
    assert marker["checkpoint"] == ckpt and marker["batch_id"] >= 1


def test_streaming_dedup_index_converges(spark, tmp_path):
    """Two streamed document batches fold into the fingerprint index;
    the final index equals the one-shot exact dedup of the union, and
    re-running over the same files folds nothing twice (marker skips
    redelivery)."""
    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_commit_meta,
        read_table,
    )
    from azure_sales_etl_pipeline_spark.streaming import streaming_dedup_index

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs"
    rows1 = [(0, "alpha beta"), (1, "alpha  beta"), (2, "gamma")]
    rows2 = [(10, "ALPHA beta"), (11, "delta")]
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1
    ).write.option("header", "true").csv(str(src / "f1"))
    index = str(tmp_path / "fpidx")
    ckpt = str(tmp_path / "fpckpt")
    glob = str(src) + "/*"
    streaming_dedup_index(spark, glob, schema, index, checkpoint=ckpt)
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.option("header", "true").csv(str(src / "f2"))
    streaming_dedup_index(spark, glob, schema, index, checkpoint=ckpt)

    got = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in read_table(spark, index).collect()
    }
    assert got == {0: 3, 2: 1, 11: 1}
    marker = read_commit_meta(index)
    last_batch = marker["batch_id"]
    # third run over the SAME files: marker blocks replay, index unchanged
    streaming_dedup_index(spark, glob, schema, index, checkpoint=ckpt)
    got2 = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in read_table(spark, index).collect()
    }
    assert got2 == got
    assert read_commit_meta(index)["batch_id"] == last_batch


def test_streaming_drift_monitor_matches_batch_histogram(spark, tmp_path):
    """Two streamed micro-batches must leave the drift state (and its
    report) exactly equal to the batch conditional-count histogram over
    their union — the incremental path for order_drift_histogram."""
    import datetime as dt

    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.streaming import (
        drift_report,
        streaming_drift_monitor,
    )

    schema = T.StructType(
        [
            T.StructField("price", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t_old, t_new = dt.datetime(2023, 6, 1), dt.datetime(2024, 6, 1)
    split = dt.datetime(2024, 1, 1)
    rows1 = [(5.0, t_old), (15.0, t_old), (15.0, t_new), (25.0, t_new)]
    rows2 = [(5.0, t_new), (25.0, t_old), (25.0, t_new), (35.0, t_new)]
    src = tmp_path / "facts"
    state = str(tmp_path / "drift_state")
    ckpt = str(tmp_path / "ckpt")
    glob = str(src) + "/*"

    def land(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.option(
            "header", "true"
        ).csv(str(src / name))

    land(rows1, "f1")
    streaming_drift_monitor(
        spark, glob, schema, state, "price", "ts", split, 10.0, checkpoint=ckpt
    )
    land(rows2, "f2")
    streaming_drift_monitor(
        spark, glob, schema, state, "price", "ts", split, 10.0, checkpoint=ckpt
    )

    got = sorted(map(tuple, drift_report(spark, state).collect()))

    full = spark.createDataFrame(rows1 + rows2, schema)
    is_before = F.col("ts") < F.lit(split)
    bins = full.groupBy(
        F.floor(F.col("price") / 10.0).cast("bigint").alias("bin_id")
    ).agg(
        F.count(F.when(is_before, 1)).alias("n_before"),
        F.count(F.when(~is_before, 1)).alias("n_after"),
    )
    tot = bins.agg(
        F.sum("n_before").alias("tb"), F.sum("n_after").alias("ta")
    )
    sb, sa = F.expr("n_before * 1000 DIV tb"), F.expr("n_after * 1000 DIV ta")
    want = sorted(
        map(
            tuple,
            bins.crossJoin(tot)
            .select(
                "bin_id",
                F.col("n_before").cast("bigint"),
                F.col("n_after").cast("bigint"),
                sb.cast("bigint"),
                sa.cast("bigint"),
                F.abs(sb - sa).cast("bigint"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) == 4


def test_streaming_cms_equals_batch_sketch(spark):
    """Linearity made driver-visible: folding two disjoint key batches
    through the streaming CMS monitor must reproduce the single-pass
    batch heavy-hitter estimates bit-for-bit (same top-20, same
    counts), and a replayed fold must be a no-op (marker protection)."""
    from azure_sales_etl_pipeline_spark.plans.analytics import cms_heavy_hitters
    from azure_sales_etl_pipeline_spark.streaming import stream_cms_heavy_hitters

    sf = "/root/testdata/sf0.001"
    streamed = [tuple(r) for r in stream_cms_heavy_hitters(spark, sf).collect()]
    batch = [tuple(r) for r in cms_heavy_hitters(spark, sf).collect()]
    assert streamed == batch


def test_streaming_psi_equals_batch(spark):
    """One persisted drift state serves both reports: PSI projected
    from the streamed per-bin counts must equal the batch drift_psi
    bit-for-bit (mergeable indicator counts + deterministic formula)."""
    from azure_sales_etl_pipeline_spark.plans.analytics import drift_psi
    from azure_sales_etl_pipeline_spark.streaming import stream_drift_psi

    sf = "/root/testdata/sf0.001"
    streamed = sorted(map(tuple, stream_drift_psi(spark, sf).collect()))
    batch = sorted(map(tuple, drift_psi(spark, sf).collect()))
    assert streamed == batch


def test_stream_token_stats_fold_matches_batch(spark, tmp_path):
    """The streamed token-stats fold must reproduce the batch numbers
    exactly: df counts DOCUMENTS, tf sums occurrences, and the shared
    bigram split across the two parity micro-batches merges
    additively."""
    from azure_sales_etl_pipeline_spark.streaming import stream_token_stats_fold

    rows = [
        (0, "aa bb aa bb", "en", "w", 0),   # even batch: "aa bb" x2
        (5, "aa bb cc dd", "en", "w", 0),   # odd batch:  "aa bb" x1
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["token"]: r for r in stream_token_stats_fold(spark, str(tmp_path)).collect()}
    assert out["aa bb"]["df"] == 2 and out["aa bb"]["tf_total"] == 3
    assert out["bb aa"]["df"] == 1 and out["bb aa"]["tf_total"] == 1
    assert out["bb cc"]["df"] == 1 and out["cc dd"]["df"] == 1


def test_streaming_curation_funnel_converges_and_reassigns_keeper(spark, tmp_path):
    """The streamed funnel fold must equal the one-shot curation_funnel
    for ANY batch split — including the order-sensitivity trap: batch 1
    delivers a LOW-quality copy of some content, batch 2 a
    quality+lang copy with a higher doc_id. The funnel's dedup prefers
    the survivor copy, so keepership must MOVE to the later quality
    copy (the argmin rank (1-ql)*1e12+doc_id guarantees it), unlike a
    naive first-seen-wins fold."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import curation_funnel
    from azure_sales_etl_pipeline_spark.streaming import (
        curation_funnel_report,
        streaming_curation_monitor,
    )

    good = "the of and to in " * 4  # 20 tokens, quality + en
    bad = "x1 x2 x3"  # too short: fails quality
    rows = [
        # fingerprint group A: batch1 has the bad copy, batch2 the good
        (1, bad, "en", "web", 0),
        (10, bad.upper(), "en", "web", 0),  # same normalized fp as 1
        (2, good.strip(), "en", "web", 0),
        (20, good.strip().upper(), "en", "web", 0),  # fp twin of 2
        (3, " ".join(f"u{i} the of and to" for i in range(4)), "en", "web", 0),
    ]
    # normalized fp lowercases, so UPPER twins share fingerprints
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    batch1 = df.where("doc_id IN (1, 2, 3)").select("doc_id", "text")
    batch2 = df.where("doc_id IN (10, 20)").select("doc_id", "text")
    src = tmp_path / "land"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for name, b in (("b1", batch1), ("b2", batch2)):
        (
            b.coalesce(1)
            .write.option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(str(src / name))
        )
        streaming_curation_monitor(
            spark, f"{src}/*", "doc_id bigint, text string", state,
            checkpoint=ckpt,
        )

    streamed = curation_funnel_report(spark, state).collect()[0]
    batch = curation_funnel(spark, str(tmp_path)).collect()[0]
    assert tuple(streamed) == tuple(batch)
    # the quality copy arrived in batch 2 but still wins its group:
    # groups A(1,10): neither ql -> not unique-ql; B(2,20): 2 is ql and
    # keeps; C(3): ql. n_unique == 2 proves the ql-preferred keeper.
    assert streamed["n_unique"] == 2
