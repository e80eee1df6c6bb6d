"""Incremental aggregate maintenance + compaction (operators/maintenance.py).

merge_aggregate: two incremental batches must converge to exactly the
full-recompute aggregate (the mergeable-monoid property the operator
relies on). compact_table: many small files → ceil(bytes/target) files,
same rows.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from azure_sales_etl_pipeline_spark.catalog import load_table
from azure_sales_etl_pipeline_spark.operators.maintenance import (
    compact_table,
    merge_aggregate,
)
from azure_sales_etl_pipeline_spark.operators.writer import read_table

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_aggregate_matches_full_recompute(spark, tmp_path):
    mart = str(tmp_path / "daily_mart")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.to_date("o_orderdate").alias("order_date"), "o_totalprice", "o_orderkey"
    )
    batch1 = orders.where("o_orderkey % 2 = 0")
    batch2 = orders.where("o_orderkey % 2 = 1")
    merge_aggregate(
        spark, mart, batch1.drop("o_orderkey"), keys=["order_date"], sums=["o_totalprice"]
    )
    out = merge_aggregate(
        spark, mart, batch2.drop("o_orderkey"), keys=["order_date"], sums=["o_totalprice"]
    )
    full = orders.groupBy("order_date").agg(
        F.sum("o_totalprice").alias("o_totalprice"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    got = {r["order_date"]: (round(r["o_totalprice"], 2), r["n_rows"]) for r in out.collect()}
    want = {r["order_date"]: (round(r["o_totalprice"], 2), r["n_rows"]) for r in full.collect()}
    assert got == want


def test_merge_aggregate_idempotent_grain(spark, tmp_path):
    """Merging an empty batch leaves the mart unchanged."""
    mart = str(tmp_path / "mart")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    first = merge_aggregate(spark, mart, orders, keys=["order_date"], sums=["o_totalprice"])
    before = _rows(first.select("order_date", F.round("o_totalprice", 2), "n_rows"))
    second = merge_aggregate(
        spark, mart, orders.limit(0), keys=["order_date"], sums=["o_totalprice"]
    )
    after = _rows(second.select("order_date", F.round("o_totalprice", 2), "n_rows"))
    assert before == after


def test_compact_table_packs_small_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    n_before = len([p for p in Path(path).glob("*.parquet")])
    assert n_before >= 40
    n_after = compact_table(spark, path, target_bytes=1 << 30)
    assert n_after == 1
    back = read_table(spark, path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == 10_000 * 9_999


def test_jsonl_round_trip_preserves_nested_types(spark, tmp_path):
    """JSONL export/import: embeddings (array<float>) and a struct
    column survive the round trip with an explicit schema; the export
    shards as requested."""
    from azure_sales_etl_pipeline_spark.sources.formats import read_jsonl, write_jsonl

    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "meta", F.struct(F.col("label").alias("l"), F.lit("v1").alias("ver"))
    )
    path = str(tmp_path / "export")
    write_jsonl(emb, path, n_shards=2)
    jsonl_files = [p for p in Path(path).glob("part-*.json")]
    assert len(jsonl_files) == 2
    back = read_jsonl(spark, path, schema=emb.schema)
    assert back.count() == emb.count()
    a = emb.select("vec_id", "embedding", "meta.ver").orderBy("vec_id").collect()
    b = back.select("vec_id", "embedding", "meta.ver").orderBy("vec_id").collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    assert all(
        abs(x - y) < 1e-6
        for ra, rb in zip(a, b)
        for x, y in zip(ra["embedding"], rb["embedding"])
    )


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC: same DataFrame code, different columnar format — and the
    filter still reaches the ORC scan (searchArguments/pushed filters)."""
    from azure_sales_etl_pipeline_spark.sources.formats import read_orc, write_orc

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path).where(F.col("o_totalprice") > 100000)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = back._jdf.queryExecution().explainString(mode)
    assert "PushedFilters" in plan and "o_totalprice" in "".join(
        l for l in plan.splitlines() if "PushedFilters" in l
    )
    assert back.count() == orders.where("o_totalprice > 100000").count()


def test_avro_gated_with_clear_error(spark, tmp_path):
    """spark-avro isn't deployed here; the wrapper must say so instead
    of leaking a ClassNotFound stack (same policy as the delta backend)."""
    import pytest

    from azure_sales_etl_pipeline_spark.sources.formats import write_avro

    with pytest.raises(RuntimeError, match="spark-avro is not on the classpath"):
        write_avro(spark.range(3), str(tmp_path / "a"))


def test_compact_table_refuses_partitioned_layout(spark, tmp_path):
    import pytest

    path = str(tmp_path / "parted")
    spark.range(100).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(path)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        compact_table(spark, path)


def test_merge_sketch_distinct_converges_to_exact(spark, tmp_path):
    """Two incremental sketch folds must yield the same per-key distinct
    estimates as a single-pass sketch over everything — and, in the
    low-cardinality regime where HLL is exact, the same values as exact
    countDistinct (the property merge_aggregate can't have: re-folding
    countDistinct partials over-counts)."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        merge_sketch_distinct,
    )

    mart = str(tmp_path / "distinct_mart")
    events = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    b1 = events.where(F.col("user_id") % 2 == 0)
    b2 = events.where(F.col("user_id") % 2 == 1)

    merge_sketch_distinct(spark, mart, b1, ["event_type"], "user_id")
    final = merge_sketch_distinct(spark, mart, b2, ["event_type"], "user_id")

    est = {
        r["event_type"]: r["n"]
        for r in final.select(
            "event_type",
            F.hll_sketch_estimate("distinct_sk").alias("n"),
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # sf0.001 has ~tens of distinct users per type: HLL's exact regime
    assert est == exact

    # idempotent mart grain: one row per key, sketch column is binary
    assert final.count() == len(exact)
    assert dict(final.dtypes)["distinct_sk"] == "binary"


def test_merge_fingerprint_index_converges_and_filters(spark, tmp_path):
    """Sequential two-batch fold == one-shot exact dedup (index level),
    and survivors are exactly the cross-batch-new first occurrences."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        merge_fingerprint_index,
    )

    rows = [
        (0, "alpha beta"),
        (1, "alpha  beta"),   # ws-normalized dup of 0, same batch
        (2, "gamma"),
        # batch 2 (ids after batch 1)
        (10, "ALPHA beta"),   # case-normalized dup of 0, cross-batch
        (11, "delta"),
        (12, "delta"),        # intra-batch dup of 11
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx_path = str(tmp_path / "fp_index")
    s1, _ = merge_fingerprint_index(
        spark, idx_path, docs.where(F.col("doc_id") < 10)
    )
    s2, index = merge_fingerprint_index(
        spark, idx_path, docs.where(F.col("doc_id") >= 10)
    )
    assert sorted(r["doc_id"] for r in s1.collect()) == [0, 2]
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]  # 10 is history-dup
    got = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in index.collect()
    }
    # one-shot recompute: keeper = min doc_id, dup_count = occurrences
    assert got == {0: 3, 2: 1, 11: 2}

    # third fold of an already-seen batch: keepers stable, counts grow
    s3, index = merge_fingerprint_index(
        spark, idx_path, docs.where(F.col("doc_id") == 12)
    )
    assert s3.count() == 0
    got = {r["keeper_doc_id"]: r["dup_count"] for r in index.collect()}
    assert got == {0: 3, 2: 1, 11: 3}


def test_compact_partitioned_per_directory(spark, tmp_path):
    """Fragmented partitions compact to one file each, rows and the
    partition-pruning layout survive, and the root guard still points
    at the right entry point."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        compact_partitioned,
        compact_table,
    )
    from azure_sales_etl_pipeline_spark.operators.writer import write_partitioned

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k")
    )
    path = str(tmp_path / "ptab")
    write_partitioned(df.repartition(10), path, ["k"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compact_partitioned"):
        compact_table(spark, path)
    counts = compact_partitioned(spark, path)
    assert set(counts) == {"k=0", "k=1", "k=2"}
    assert all(n == 1 for n in counts.values())
    back = spark.read.parquet(path)
    assert back.count() == 200
    # layout intact: partition filter still prunes
    assert back.where("k = '1'").count() == df.where("k = '1'").count()


def test_merge_aggregate_min_max_monoids(spark, tmp_path):
    """min/max columns fold idempotently across batches: two-batch fold
    equals the one-pass aggregate for sums AND bounds."""
    import pyspark.sql.functions as F

    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        merge_aggregate,
    )

    path = str(tmp_path / "mart")
    schema = "k string, v bigint, lo bigint, hi bigint"
    b1 = spark.createDataFrame([("a", 5, 10, 10), ("a", 3, 2, 2)], schema)
    b2 = spark.createDataFrame([("a", 7, 30, 30), ("b", 1, 1, 1)], schema)
    merge_aggregate(spark, path, b1, keys=["k"], sums=["v"], mins=["lo"], maxs=["hi"])
    out = merge_aggregate(
        spark, path, b2, keys=["k"], sums=["v"], mins=["lo"], maxs=["hi"]
    )
    rows = {r["k"]: r for r in out.collect()}
    assert rows["a"]["v"] == 15 and rows["a"]["lo"] == 2 and rows["a"]["hi"] == 30
    assert rows["a"]["n_rows"] == 3
    assert rows["b"]["v"] == 1 and rows["b"]["lo"] == 1 and rows["b"]["hi"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_aggregate(
            spark, path, b2, keys=["k"], sums=["v"], mins=["v"], maxs=["v"]
        )


def test_merge_aggregate_schema_gate_errors(spark, tmp_path):
    """r8 advisory: folding new aggregate columns against a mart created
    without them must raise a descriptive error (not die inside
    unionByName), and keys overlapping folded columns are rejected."""
    import pytest

    mart = str(tmp_path / "mart")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    merge_aggregate(spark, mart, orders, keys=["order_date"], sums=["o_totalprice"])
    with pytest.raises(ValueError, match="lacks.*o_totalprice_min|lacks.*\\['o_totalprice_min'\\]"):
        merge_aggregate(
            spark,
            mart,
            orders.withColumn("o_totalprice_min", F.col("o_totalprice")),
            keys=["order_date"],
            sums=["o_totalprice"],
            mins=["o_totalprice_min"],
        )
    with pytest.raises(ValueError, match="both .*keys and folded"):
        merge_aggregate(
            spark, mart, orders, keys=["order_date"], sums=["order_date"]
        )


def test_merge_cluster_labels_bridges_old_clusters(spark, tmp_path):
    """The hard path of incremental CC: a batch-2 document bridging two
    batch-1 clusters must merge BOTH old clusters' members to one
    label — including old members that touch no new edge — and
    untouched clusters must pass through byte-identical."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        merge_cluster_labels,
    )

    path = str(tmp_path / "labels")
    # batch 1: clusters {1,2,3} (label 1), {10,11} (label 10),
    # untouched {20,21} (label 20), singleton 30
    edges1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    nodes1 = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 30)], "doc_id long"
    )
    out1 = {
        r["doc_id"]: r["cluster_id"]
        for r in merge_cluster_labels(spark, path, edges1, nodes1).collect()
    }
    assert out1 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 30: 30}
    # batch 2: doc 40 bridges cluster 1 and cluster 10 (via members 3
    # and 11 — NOT the labels); doc 41 is a new singleton
    edges2 = spark.createDataFrame([(3, 40), (40, 11)], "doc_a long, doc_b long")
    nodes2 = spark.createDataFrame([(40,), (41,)], "doc_id long")
    out2 = {
        r["doc_id"]: r["cluster_id"]
        for r in merge_cluster_labels(spark, path, edges2, nodes2).collect()
    }
    assert out2 == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 40: 1,  # merged through the bridge
        20: 20, 21: 20, 30: 30, 41: 41,          # untouched / singletons
    }


def test_merge_kmin_idempotent_and_converges(spark, tmp_path):
    """Min-union folds: (a) refolding the SAME batch leaves the state
    identical (idempotence — redelivery is structurally harmless),
    (b) two-batch fold equals the one-shot k smallest of the union."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import merge_kmin

    state = str(tmp_path / "kmv")
    b1 = spark.createDataFrame([(f"{i:03d}",) for i in range(0, 40, 2)], "h string")
    b2 = spark.createDataFrame([(f"{i:03d}",) for i in range(1, 40, 2)], "h string")
    merge_kmin(spark, state, b1, "h", k=10)
    once = sorted(r["h"] for r in merge_kmin(spark, state, b2, "h", k=10).collect())
    again = sorted(r["h"] for r in merge_kmin(spark, state, b2, "h", k=10).collect())
    assert once == again  # idempotent under redelivery
    assert once == [f"{i:03d}" for i in range(10)]  # == one-shot k smallest


def test_erase_cascade_counts_children_first_and_idempotent(spark, tmp_path):
    """GDPR cascade: (a) audit counts match the hand-computed fan-out,
    (b) no surviving row references an erased parent, (c) re-running
    with the same keys removes nothing (idempotent)."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import erase_cascade
    from azure_sales_etl_pipeline_spark.operators.writer import read_table

    cust = spark.createDataFrame([(1,), (2,), (3,)], "c long")
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (20, 2), (30, 3)], "o long, c long"
    )
    li = spark.createDataFrame(
        [(10, 100), (10, 101), (11, 102), (20, 103), (30, 104)],
        "o long, item long",
    )
    paths = {}
    for name, df in (("cust", cust), ("orders", orders), ("li", li)):
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])
    steps = [
        {"path": paths["cust"], "match": "c", "doom": "root"},
        {"path": paths["orders"], "match": "c", "doom": "root",
         "emit": ("o", "orders")},
        {"path": paths["li"], "match": "o", "doom": "orders"},
    ]
    keys = spark.createDataFrame([(1,)], "c long")
    report = erase_cascade(spark, keys, steps)
    by_table = {r["table"]: r for r in report}
    assert by_table["cust"]["rows_removed"] == 1
    assert by_table["orders"]["rows_removed"] == 2  # orders 10, 11
    assert by_table["li"]["rows_removed"] == 3  # items of orders 10, 11
    assert by_table["li"]["rows_after"] == 2
    # referential integrity of the survivors
    surv_orders = {r["c"] for r in read_table(spark, paths["orders"]).collect()}
    assert surv_orders == {2, 3}
    surv_li = {r["o"] for r in read_table(spark, paths["li"]).collect()}
    assert surv_li == {20, 30}
    # idempotent: same keys again → nothing matches, nothing removed
    again = erase_cascade(spark, keys, steps)
    assert all(r["rows_removed"] == 0 for r in again)


def test_xml_round_trip_pinned_schema(spark, tmp_path):
    """XML (built into Spark 4): write the customer dim as <customer>
    elements, read it back with a PINNED schema (the infer-then-pin
    discipline — XML inference is an extra full pass), and the values
    must survive the trip exactly. Null columns are omitted on write
    and must come back as nulls, not absent rows."""
    from azure_sales_etl_pipeline_spark.sources.formats import read_xml, write_xml

    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = str(tmp_path / "cust_xml")
    write_xml(cust, path, row_tag="customer")
    back = read_xml(
        spark,
        path,
        row_tag="customer",
        schema="c_custkey bigint, c_name string, c_acctbal double,"
        " c_mktsegment string",
    )
    a = sorted(cust.collect(), key=lambda r: r["c_custkey"])
    b = sorted(back.collect(), key=lambda r: r["c_custkey"])
    assert len(a) == len(b)
    assert all(
        ra["c_name"] == rb["c_name"]
        and abs(ra["c_acctbal"] - rb["c_acctbal"]) < 1e-9
        and ra["c_mktsegment"] == rb["c_mktsegment"]
        for ra, rb in zip(a, b)
    )


def test_bm25_index_two_batch_df_and_fold(spark, tmp_path):
    """df must count DOCUMENTS (not occurrences) and the two-batch fold
    must equal the one-shot stats: a bigram repeated inside one doc and
    shared across the batch split gets df=2, tf_total=3."""
    from azure_sales_etl_pipeline_spark.plans.incremental import (
        bm25_index_two_batch,
    )

    rows = [
        (0, "aa bb aa bb", "en", "w", 0),   # "aa bb" x2, "bb aa" x1
        (5, "aa bb cc dd", "en", "w", 0),   # "aa bb" x1 (other batch)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["token"]: r for r in bm25_index_two_batch(spark, str(tmp_path)).collect()}
    assert out["aa bb"]["df"] == 2 and out["aa bb"]["tf_total"] == 3
    assert out["bb aa"]["df"] == 1 and out["bb aa"]["tf_total"] == 1
    assert out["bb cc"]["df"] == 1 and out["cc dd"]["tf_total"] == 1
    # head ordering: the cross-batch bigram leads
    assert min(out.values(), key=lambda r: (-r["df"], -r["tf_total"], r["token"]))["token"] == "aa bb"
