"""Planted-scenario tests for the window/range-join and ml-prep
operators. The driver oracle checks them against DuckDB at sf scale;
these pin the subtle semantics on hand-built micro-datasets:

- dedup_clusters must collapse a dup CHAIN whose diameter exceeds the
  iteration cap (pointer doubling is what makes that converge);
- purchase_prior_clicks must honor the half-open (ts-1h, ts] band
  exactly at both boundaries and across bucket edges.
"""

from __future__ import annotations

import datetime as dt

import pytest

from azure_sales_etl_pipeline_spark.operators.maintenance import _CC_MAX_ITERS
from azure_sales_etl_pipeline_spark.plans.mlprep import (
    dedup_clusters,
    train_test_split,
)
from azure_sales_etl_pipeline_spark.plans.windows import purchase_prior_clicks
from tests.conftest import SF_DIR

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def test_dedup_clusters_chain_beyond_iteration_cap(spark, tmp_path):
    # A chain of 30 docs where consecutive docs share 9/10 tokens
    # (jaccard ~0.82) but distant docs share nothing: diameter 29 >>
    # _CC_MAX_ITERS, so plain min-propagation could NOT converge —
    # pointer doubling must.
    chain_len = 30
    assert chain_len - 1 > _CC_MAX_ITERS
    words = [f"w{i}" for i in range(chain_len + 10)]
    rows = []
    for i in range(chain_len):
        text = " ".join(words[i : i + 10])
        rows.append((i, text, "en", "src0", len(text)))
    # plus an unrelated singleton
    rows.append((100, "zebra quokka axolotl narwhal pangolin", "en", "src0", 37))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    labels = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, str(tmp_path)).collect()}
    assert all(labels[i] == 0 for i in range(chain_len)), "chain must collapse to doc 0"
    assert labels[100] == 100, "singleton keeps its own cluster"


def test_cluster_size_histogram_planted_distribution(spark, tmp_path):
    """Planted 3-clone cluster + two singletons: the histogram must
    report exact sizes with integer corpus shares and a ≥-size
    cumulative that sums the tail (size 1 row covers the whole
    corpus; size 3 row covers only the clones)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        cluster_size_histogram,
    )

    clone = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, clone, "en", "src0", len(clone)),
        (2, clone, "en", "src0", len(clone)),
        (3, clone, "en", "src0", len(clone)),
        (10, "one lonely document about narwhals", "en", "src0", 34),
        (11, "another unrelated text on axolotls", "en", "src0", 34),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    hist = {
        r["cluster_size"]: r
        for r in cluster_size_histogram(spark, str(tmp_path)).collect()
    }
    assert sorted(hist) == [1, 3]
    assert hist[1]["n_clusters"] == 2 and hist[1]["n_docs"] == 2
    assert hist[3]["n_clusters"] == 1 and hist[3]["n_docs"] == 3
    assert hist[1]["docs_permille"] == 400
    assert hist[3]["docs_permille"] == 600
    assert hist[1]["cum_ge_permille"] == 1000  # everything is >= size 1
    assert hist[3]["cum_ge_permille"] == 600   # only the clones


def test_train_test_split_deterministic(spark, tmp_path):
    rows = [(i, f"doc {i}", "en" if i % 2 else "de", "s", 5) for i in range(200)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    a = {r["doc_id"]: r["split"] for r in train_test_split(spark, str(tmp_path)).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in train_test_split(spark, str(tmp_path)).repartition(7).collect()
    }
    assert a == b, "split membership must be a pure function of the key"
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac < 0.9


@pytest.fixture()
def range_events_dir(spark, tmp_path):
    def at(sec):
        return T0 + dt.timedelta(seconds=sec)

    h = 3600
    rows = [
        # user 1: purchase at t=2h. Clicks: exactly 1h before (EXCLUDED,
        # strict >), 1s inside the band, at the purchase instant
        # (INCLUDED, <=), and one in the band but the PREVIOUS bucket.
        (1, at(2 * h), 1, "purchase", 0.0, "{}"),
        (2, at(1 * h), 1, "click", 0.0, "{}"),
        (3, at(1 * h + 1), 1, "click", 0.0, "{}"),
        (4, at(2 * h), 1, "click", 0.0, "{}"),
        (5, at(2 * h - 1800), 1, "click", 0.0, "{}"),
        # user 2: purchase with no clicks at all
        (6, at(5 * h), 2, "purchase", 0.0, "{}"),
        # user 3: click AFTER the purchase only
        (7, at(3 * h), 3, "purchase", 0.0, "{}"),
        (8, at(3 * h + 10), 3, "click", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_purchase_prior_clicks_band_boundaries(spark, range_events_dir):
    out = {
        r["event_id"]: r["n_prior_clicks"]
        for r in purchase_prior_clicks(spark, range_events_dir).collect()
    }
    # event 2 excluded (exactly -1h), events 3/4/5 included
    assert out[1] == 3
    assert out[6] == 0, "purchase with no clicks must survive (left semantics)"
    assert out[7] == 0, "future clicks don't count"


def test_token_balanced_mixture_prefix_semantics(spark, tmp_path):
    """Every source stops within one doc of the shared token target, the
    target is the smallest per-source token total, and doc selection is
    the md5-order prefix (deterministic)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import token_balanced_mixture

    rows = []
    # source 'small': 3 docs x 10 tokens = 30 tokens -> the binding min
    for i in range(3):
        rows.append((i, " ".join(f"s{j}" for j in range(10)), "en", "small", 20))
    # source 'big': 10 docs x 10 tokens = 100 tokens
    for i in range(10, 20):
        rows.append((i, " ".join(f"b{j}" for j in range(10)), "en", "big", 20))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = token_balanced_mixture(spark, str(tmp_path)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # 'small' keeps everything (it IS the target)
    assert sorted(r["doc_id"] for r in by_src["small"]) == [0, 1, 2]
    # 'big' keeps exactly 3 docs: prefix crosses the 30-token target at
    # doc 3 (10-token docs), never a 4th (cum would start at 30 >= 30)
    assert len(by_src["big"]) == 3
    assert max(r["cum_tokens"] for r in by_src["big"]) == 30
    # md5-order prefix: kept docs are the 3 smallest md5(doc_id) hashes
    import hashlib

    expected = sorted(range(10, 20), key=lambda d: hashlib.md5(str(d).encode()).hexdigest())[:3]
    assert sorted(r["doc_id"] for r in by_src["big"]) == sorted(expected)


def test_bloom_decontaminate_exact_and_selective(spark, tmp_path):
    """End result equals the exact anti-join; the bloom PREFILTER alone
    (before the confirm join) must pass all true members and reject the
    overwhelming majority of non-members — otherwise the bloom is dead
    code whose bugs the confirm join silently masks."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _bloom_bitmap,
        _bloom_positions,
        bloom_decontaminate,
    )

    rows = [
        (i, f"unique text {i}" if i % 20 else "blocked payload", "en", "web", 20)
        for i in range(200)
    ]
    # plant a NON-blocklist doc (999 % 20 != 0) carrying blocklist text
    rows.append((999, "blocked payload", "en", "web", 20))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["doc_id"] for r in bloom_decontaminate(spark, str(tmp_path)).collect()}
    # exact semantics: %20 docs removed; doc 41 removed too (same text as
    # blocklist); everything else kept
    expected = {i for i in range(200) if i % 20}
    assert out == expected

    # prefilter selectivity: probe every corpus fp against the bitmap
    corpus = df.select(F.sha2(F.trim("text"), 256).alias("fp"), "doc_id")
    blocklist = corpus.where(F.col("doc_id") % 20 == 0).select("fp")
    bitmap = {r["word_idx"]: r["bits"] for r in _bloom_bitmap(blocklist, "fp").collect()}
    probed = corpus.select("doc_id", _bloom_positions(F.col("fp")).alias("pos")).collect()
    fp_hits = set()
    for r in probed:
        if all(bitmap.get(p // 64, 0) & (1 << (p % 64)) for p in r["pos"]):
            fp_hits.add(r["doc_id"])
    true_members = {i for i in range(200) if i % 20 == 0} | {999}
    assert true_members <= fp_hits  # no false negatives, ever
    false_pos = fp_hits - true_members
    assert len(false_pos) <= 4  # ~190 non-members, <1% expected FP rate


def test_pack_sequences_tiles_exactly(spark):
    """Concat-and-chunk invariants on the real corpus: every sequence
    except the last is exactly full; segments tile each sequence
    contiguously from offset 0 with no gaps or overlaps; per-doc
    segments cover the doc exactly once in order."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _PACK_CONTEXT,
        pack_sequences,
    )

    rows = pack_sequences(spark, "/root/testdata/sf0.001").collect()
    by_seq: dict[int, list] = {}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)
    last_seq = max(by_seq)
    for seq_id, segs in by_seq.items():
        segs.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in segs:
            assert s["seq_offset"] == pos, (seq_id, s)
            pos += s["n_seq_tokens"]
        if seq_id != last_seq:
            assert pos == _PACK_CONTEXT, (seq_id, pos)
        else:
            assert 0 < pos <= _PACK_CONTEXT
    for doc_id, segs in by_doc.items():
        segs.sort(key=lambda r: r["doc_offset"])
        pos = 0
        for s in segs:
            assert s["doc_offset"] == pos, (doc_id, s)
            pos += s["n_seq_tokens"]
        assert pos >= 1  # whole doc covered, in order


def test_pack_sequences_greedy_respects_boundaries(spark):
    """Next-fit invariants: every doc occupies exactly one (shard, seq)
    slot; no sequence exceeds the context; a new sequence only opens
    when the next doc genuinely didn't fit; packed length is the doc
    length truncated to the context."""
    from collections import defaultdict

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _PACK_CONTEXT,
        pack_sequences_greedy,
    )

    rows = pack_sequences_greedy(spark, "/root/testdata/sf0.001").collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)  # one slot per doc
    fills = defaultdict(int)
    for r in rows:
        assert 1 <= r["n_packed_tokens"] <= _PACK_CONTEXT
        fills[(r["shard_id"], r["seq_id"])] += r["n_packed_tokens"]
    for (shard, seq), tot in fills.items():
        assert tot <= _PACK_CONTEXT, (shard, seq, tot)
        # next-fit: seq s+1 exists only because its FIRST doc overflowed
        # seq s, so seq s's fill + that doc must exceed the context
        if (shard, seq + 1) in fills:
            first_next = min(
                r["n_packed_tokens"]
                for r in rows
                if (r["shard_id"], r["seq_id"]) == (shard, seq + 1)
                and r["doc_id"]
                == min(
                    x["doc_id"]
                    for x in rows
                    if (x["shard_id"], x["seq_id"]) == (shard, seq + 1)
                )
            )
            assert tot + first_next > _PACK_CONTEXT, (shard, seq)
    # permille is exact integer arithmetic over the final fills
    for r in rows:
        assert (
            r["seq_fill_permille"]
            == fills[(r["shard_id"], r["seq_id"])] * 1000 // _PACK_CONTEXT
        )


def test_global_shuffle_export_tiles_and_permutes(spark):
    """Shard tiling invariants on the real corpus: positions 0..n-1 are
    a permutation of the docs; every shard except the last holds
    exactly _SHUFFLE_SHARD_ROWS rows with contiguous pos_in_shard; and
    the ordering is the salted-md5 order, independent of input
    partitioning (re-run under a different repartition → same rows)."""
    import hashlib

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _SHUFFLE_SHARD_ROWS,
        global_shuffle_export,
    )

    rows = global_shuffle_export(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    pos = sorted(r["shard_id"] * _SHUFFLE_SHARD_ROWS + r["pos_in_shard"] for r in rows)
    assert pos == list(range(n))  # exact global permutation, no gaps
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["pos_in_shard"])
    last = max(by_shard)
    for shard, ps in by_shard.items():
        want = _SHUFFLE_SHARD_ROWS if shard != last else n - last * _SHUFFLE_SHARD_ROWS
        assert sorted(ps) == list(range(want)), shard
    # the permutation IS md5('shuffle:'||doc_id) order — replay in Python
    expect = sorted(
        (hashlib.md5(f"shuffle:{r['doc_id']}".encode()).hexdigest(), r["doc_id"])
        for r in rows
    )
    got = sorted(rows, key=lambda r: r["shard_id"] * _SHUFFLE_SHARD_ROWS + r["pos_in_shard"])
    assert [r["doc_id"] for r in got] == [d for _, d in expect]


def test_leakage_safe_split_respects_clusters(spark, tmp_path):
    """No near-dup pair may straddle the split: build a corpus with two
    dup clusters + singletons, and require every cluster to land WHOLLY
    in one split while the doc-level hash (train_test_split) would have
    torn at least one cluster apart (the scenario the operator exists
    for)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import leakage_safe_split

    words = [f"w{i}" for i in range(40)]
    rows = []
    # cluster A: docs 0-4 near-identical; cluster B: docs 10-14
    for i in range(5):
        rows.append((i, " ".join(words[0:10]) + f" extra{i}", "en", "src0", 80))
    for i in range(10, 15):
        rows.append((i, " ".join(words[20:30]) + f" pad{i}", "en", "src0", 80))
    for i in range(100, 110):  # singletons
        rows.append((i, " ".join(words[j % 40] for j in range(i, i + 12)), "en", "src0", 80))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = leakage_safe_split(spark, str(tmp_path)).collect()
    split_by_cluster: dict[int, set] = {}
    for r in out:
        split_by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in split_by_cluster.values()), "cluster torn across splits"
    assert len(out) == len(rows)  # every doc labeled exactly once
    assert {r["split"] for r in out} <= {"train", "test"}


def test_fuzzy_name_pairs_matches_reference_impl(spark):
    """The blocked fuzzy join must equal an independent Python replay
    (blocking + classic DP levenshtein) over the same distinct names —
    pinning both the blocking contract and the distance semantics."""
    from azure_sales_etl_pipeline_spark.plans.dedup import (
        _FUZZY_MAX_DIST,
        fuzzy_name_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    sf = "/root/testdata/sf0.001"
    got = {
        (r["block"], r["name_a"], r["name_b"], r["edit_distance"])
        for r in fuzzy_name_pairs(spark, sf).collect()
    }
    names = {
        r["p_name"]
        for r in spark.read.parquet(f"{sf}/part.parquet").select("p_name").collect()
    }
    want = set()
    for a in names:
        for b in names:
            if a < b and a.split(" ")[-1] == b.split(" ")[-1]:
                d = lev(a, b)
                if d <= _FUZZY_MAX_DIST:
                    want.add((a.split(" ")[-1], a, b, d))
    assert got == want and len(want) > 0


def test_span_corruption_masks_deterministic_and_budgeted(spark):
    """Masks must be a pure function of (doc_id, position) — identical
    across invocations — match an independent Python md5 replay, stay
    inside the document, and mask roughly the designed ~5% of start
    positions."""
    import hashlib

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _SPAN_LEN_MOD,
        _SPAN_START_MAX_BYTE,
        span_corruption_masks,
    )

    sf = "/root/testdata/sf0.001"
    rows = span_corruption_masks(spark, sf).collect()
    again = span_corruption_masks(spark, sf).collect()
    key = lambda r: (r["doc_id"], r["span_start"], r["span_len_req"], r["span_len"])
    assert sorted(map(key, rows)) == sorted(map(key, again))

    docs = {
        r["doc_id"]: len(r["text"].strip().split())
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    want = set()
    for doc_id, n in docs.items():
        for i in range(n):
            hx = hashlib.md5(f"mask:{doc_id}:{i}".encode()).hexdigest()
            if int(hx[0:2], 16) < _SPAN_START_MAX_BYTE:
                req = 1 + int(hx[2:4], 16) % _SPAN_LEN_MOD
                want.add((doc_id, i, req, min(req, n - i)))
    assert set(map(key, rows)) == want
    total_positions = sum(docs.values())
    assert 0.03 < len(rows) / total_positions < 0.08  # ~5% span starts
    assert all(r["span_start"] + r["span_len"] <= docs[r["doc_id"]] for r in rows)


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """A session checkpoint dir — what ``spark.checkpoint.dir`` sets at
    startup — unset again on teardown."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield tmp_path / "ckpt"
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


_ROUND_LOOPS = (
    "dedup_clusters",
    "k_core_vertices",
    "supplier_copurchase_pagerank",
    "label_propagation_communities",
    "copurchase_bfs_hops",
    "bpe_merge_steps",
    "mmr_rerank_topk",
)


def test_iterative_ops_reliable_checkpoint_knob(spark, request):
    """With a session checkpoint dir set, every round loop cuts its
    lineage with reliable checkpoint() into that dir (rounds survive
    executor loss on a preemptible fleet) and returns exactly the
    values of the default localCheckpoint run."""
    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.plans import registry

    fns = {name: registry()[0][name] for name in _ROUND_LOOPS}

    def run(fn):
        memo.evict_all()  # a warm cluster-table memo would skip the CC loop
        return sorted(map(tuple, fn(spark, SF_DIR).collect()))

    want = {name: run(fn) for name, fn in fns.items()}
    ckpt = request.getfixturevalue("session_checkpoint_dir")
    for name, fn in fns.items():
        before = set(ckpt.rglob("*"))
        assert run(fn) == want[name], name
        assert set(ckpt.rglob("*")) - before, f"{name} wrote no reliable checkpoint"


def test_released_reliable_cuts_leave_no_files(spark, tmp_path, request):
    """With a session checkpoint dir, a cut is a reliable checkpoint,
    and Spark keeps its ``rdd-N`` files after the RDD is gone. Freeing
    a cut deletes them: after one SCD2 upsert (its own scope) and one
    scoped connected-components query, the dir holds no checkpoint."""
    from azure_sales_etl_pipeline_spark.operators import rounds
    from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table
    from azure_sales_etl_pipeline_spark.plans.dedup import golden_part_records

    ckpt = request.getfixturevalue("session_checkpoint_dir")
    schema = "id int, name string"
    dim = SCD2Table(spark, str(tmp_path / "dim"), "id")
    dim.upsert(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    assert dim.upsert(spark.createDataFrame([(1, "a"), (2, "c")], schema))["update"] == 1
    with rounds.scope():
        golden_part_records(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert ckpt.is_dir() and not list(ckpt.rglob("rdd-*"))


def test_curation_funnel_single_scan(spark):
    """The funnel's four stage signals are per-row expressions off ONE
    scan of documents — never a join of four stage DataFrames."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import curation_funnel

    df = curation_funnel(spark, "/root/testdata/sf0.001")
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert plan.count(") Scan parquet") == 1


def test_user_trailing_features_horizons(spark, tmp_path):
    """Planted timeline: events at t0, t0+30min, t0+2h, t0+3d for one
    user. The trailing windows must include exactly the events within
    each horizon (inclusive bounds), and the 7d value sum must be exact
    integer cents."""
    import datetime as dt

    from azure_sales_etl_pipeline_spark.plans.windows import (
        user_trailing_features,
    )

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "view", 1.00, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 1, "view", 2.00, "{}"),
        (3, t0 + dt.timedelta(hours=2), 1, "view", 4.00, "{}"),
        (4, t0 + dt.timedelta(days=3), 1, "view", 8.00, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["event_id"]: r for r in user_trailing_features(spark, str(tmp_path)).collect()}
    assert out[2]["n_1h"] == 2 and out[2]["value_1h_cents"] == 300
    assert out[3]["n_1h"] == 1  # 90min gap: only itself
    assert out[3]["n_24h"] == 3 and out[3]["value_24h_cents"] == 700
    assert out[4]["n_24h"] == 1
    assert out[4]["n_7d"] == 4 and out[4]["value_7d_cents"] == 1500


def test_negative_samples_are_true_negatives(spark):
    """Every emitted (cust, neg_part) pair must be absent from the
    actual purchase pairs, at most 5 per customer, and stable across
    two evaluations (hash-deterministic candidates)."""
    import pyspark.sql.functions as F

    from azure_sales_etl_pipeline_spark.catalog import load_table
    from azure_sales_etl_pipeline_spark.plans.mlprep import negative_samples

    sf = "/root/testdata/sf0.001"
    neg = negative_samples(spark, sf)
    purchased = (
        load_table(spark, sf, "orders")
        .join(
            load_table(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("neg_part")
        )
        .distinct()
    )
    assert neg.join(purchased, ["cust", "neg_part"]).count() == 0
    per_cust = neg.groupBy("cust").count().agg(F.max("count")).first()[0]
    assert per_cust <= 5
    a = sorted(map(tuple, neg.collect()))
    b = sorted(map(tuple, negative_samples(spark, sf).collect()))
    assert a == b


def test_pagerank_dangling_mass_redistributed(spark, tmp_path):
    """r7 verdict item 5: a supplier with NO out-edges must redistribute
    its rank evenly each round (standard dangling-mass term), verified
    bit-for-bit against the DuckDB oracle on the same synthetic graph —
    the testdata has no dangling supplier, so this is the only coverage
    of that branch."""
    import duckdb
    import pandas as pd

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        ORACLES,
        supplier_copurchase_pagerank,
    )

    # suppliers 1,2 share order 10 (edges both ways); supplier 3 only
    # ever appears alone -> dangling (rank flows out via the dangling
    # term only).
    pd.DataFrame(
        {"l_orderkey": [10, 10, 20], "l_suppkey": [1, 2, 3]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    pd.DataFrame({"s_suppkey": [1, 2, 3]}).to_parquet(tmp_path / "supplier.parquet")

    got = {
        r["s_suppkey"]: (r["rank_micro"], r["n_copurchase_edges"])
        for r in supplier_copurchase_pagerank(spark, str(tmp_path)).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    con.execute(
        f"CREATE VIEW supplier AS SELECT * FROM '{tmp_path}/supplier.parquet'"
    )
    want = {
        k: (rm, ne)
        for k, rm, ne in con.execute(
            ORACLES["supplier_copurchase_pagerank"]
        ).fetchall()
    }
    assert got == want
    # the dangling node receives mass (base + shares) but keeps no edges
    assert got[3][1] == 0 and got[3][0] > 150_000
    # symmetric pair ties exactly
    assert got[1] == got[2]


def test_degree_oriented_triangles_hub_graph(spark):
    """Degree orientation must (a) count exactly the same triangles as
    id orientation and (b) bound wedge fan-out on a hub-heavy graph.

    The planted graph: a hub with a MID-RANGE id (the id-orientation
    worst case: ~half its edges incoming, half outgoing -> ~n²/4 wedge
    rows through it) connected to n spokes, plus a chain of spoke-spoke
    edges that closes some triangles through the hub. Under degree
    orientation every hub edge points INTO the hub, so the hub forms
    zero wedges and all wedges come from degree<=3 spokes."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _triangles_degree_oriented,
        _triangles_id_oriented,
    )

    n = 200
    hub = n  # spokes 0..n-1 below, n+1..2n above -> mid-range id
    spokes = list(range(n // 2)) + list(range(n + 1, n + 1 + n // 2))
    edges = [(min(s, hub), max(s, hub)) for s in spokes]
    # ring among consecutive spokes: closes a triangle (s_i, s_i+1, hub)
    for a, b in zip(spokes, spokes[1:]):
        edges.append((min(a, b), max(a, b)))
    df = spark.createDataFrame(edges, "u long, v long").localCheckpoint()

    w_id, t_id = _triangles_id_oriented(df)
    w_deg, t_deg = _triangles_degree_oriented(df)

    n_tri_id, n_tri_deg = t_id.count(), t_deg.count()
    assert n_tri_id == n_tri_deg == len(spokes) - 1  # one per ring edge

    n_w_id, n_w_deg = w_id.count(), w_deg.count()
    # id orientation explodes through the mid-id hub (~n²/4 wedges)...
    assert n_w_id > (n // 2) ** 2 // 2
    # ...degree orientation stays linear: hub out-degree is 0, spokes
    # have degree <= 3, so each forms at most C(3,2)=3 wedges.
    assert n_w_deg <= 3 * len(spokes)


def test_k_core_planted_graph(spark):
    """Peeling must cascade: a pendant CHAIN hanging off a clique dies
    one link per round (each removal exposes the next vertex), while
    the clique survives with full in-core degrees. Planted graph: a
    4-clique {0,1,2,3} plus a chain 3-10-11-12-13 — every chain vertex
    has degree 2 until its neighbor is peeled, so a single-pass
    degree>=2 filter would WRONGLY keep the whole chain."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import _k_core

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12), (12, 13)]
    edges = clique + chain
    und = edges + [(b, a) for a, b in edges]
    eu = spark.createDataFrame(und, "u long, v long").localCheckpoint()

    got = {r["u"]: r["core_degree"] for r in _k_core(eu, 2, 6).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_oracle_unroll_depth_has_margin():
    """The oracle unrolls _KCORE_MAX_PEELS rounds; the bounded peel
    equals the true k-core only if the fixpoint lands with margin
    inside that depth. Pin it by peeling the ACTUAL sf0.01 co-purchase
    graph (the driver's correctness sf) in-process: the fixpoint must
    arrive at least 2 rounds before the unroll depth, so data drift
    shows up as a failed margin, not a silent oracle mismatch."""
    import duckdb

    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _AFFINITY_MIN_ORDERS,
        _KCORE_K,
        _KCORE_MAX_PEELS,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "parquet_scan('/root/testdata/sf0.01/lineitem.parquet')"
    )
    eu = con.execute(
        f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= {_AFFINITY_MIN_ORDERS}
        )
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
        """
    ).fetchall()

    from collections import Counter

    alive = {u for u, _ in eu}
    peels_to_fixpoint = None
    for rnd in range(1, _KCORE_MAX_PEELS + 1):
        deg = Counter()
        for u, v in eu:
            if u in alive and v in alive:
                deg[u] += 1
        new = {u for u in alive if deg[u] >= _KCORE_K}
        if new == alive:
            peels_to_fixpoint = rnd - 1
            break
        alive = new
    assert peels_to_fixpoint is not None
    assert peels_to_fixpoint <= _KCORE_MAX_PEELS - 2, (
        f"fixpoint after {peels_to_fixpoint} peels leaves <2 rounds of "
        f"margin inside the {_KCORE_MAX_PEELS}-round oracle unroll"
    )


def test_target_encoding_excludes_own_fold(spark, tmp_path):
    """Planted two-segment dataset where each fold's mean differs
    wildly: the leave-fold-out encoding for fold f must equal the mean
    over every OTHER fold's orders — computed brute-force here — and
    never drift toward fold f's own values (the leak this encoder
    exists to prevent)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _TE_FOLDS,
        target_encoding_kfold,
    )

    # customers 0..9: folds 0..4 twice over; segment alternates
    cust = [(c, f"SEG{c % 2}") for c in range(10)]
    spark.createDataFrame(
        cust, "c_custkey bigint, c_mktsegment string"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    # order value encodes its customer: custkey*100 + j dollars
    orders = [
        (c * 10 + j, c, float(c * 100 + j)) for c in range(10) for j in range(3)
    ]
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).write.parquet(str(tmp_path / "orders.parquet"))

    got = {
        (r["c_mktsegment"], r["fold"]): (r["loo_mean_cents"], r["loo_n"])
        for r in target_encoding_kfold(spark, str(tmp_path)).collect()
    }
    assert len(got) == 2 * _TE_FOLDS
    for (seg, fold), (enc, loo_n) in got.items():
        others = [
            round((c * 100 + j) * 100)
            for c, s in cust
            if s == seg and c % _TE_FOLDS != fold
            for j in range(3)
        ]
        assert loo_n == len(others)
        assert enc == sum(others) // len(others)


def test_label_propagation_separates_planted_cliques(spark, tmp_path):
    """Two 5-cliques joined by ONE bridge edge: connected components
    would merge them into a single blob; label propagation must keep
    them as two communities (the majority vote never lets the single
    bridge edge outvote four clique neighbors), with each community
    converging to its minimum member label."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        label_propagation_communities,
    )

    rows = []
    # clique A: parts 1..5 co-ordered in orders 1 and 2 (support 2)
    for ok in (1, 2):
        rows += [(ok, p) for p in range(1, 6)]
    # clique B: parts 11..15 in orders 3 and 4
    for ok in (3, 4):
        rows += [(ok, p) for p in range(11, 16)]
    # bridge: parts 5 and 11 co-ordered twice (support 2)
    for ok in (5, 6):
        rows += [(ok, 5), (ok, 11)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = {
        r["part"]: r
        for r in label_propagation_communities(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(range(1, 6)) | set(range(11, 16))
    comms = {r["community"] for r in out.values()}
    assert len(comms) == 2, f"bridge edge merged the cliques: {comms}"
    assert {out[p]["community"] for p in range(1, 6)} == {1}
    assert {out[p]["community"] for p in range(11, 16)} == {11}
    assert all(r["community_size"] == 5 for r in out.values())


def test_preference_pairing_ties_margins_and_bounds(spark):
    """_pair_by_rank planted-input properties: (a) best pairs against
    worst by rank with deterministic tie-breaks, (b) an all-tied group
    produces NO pairs (margin guard) and never a chosen==rejected row,
    (c) a group smaller than 2 produces no pairs, (d) at most m pairs
    per group."""
    from azure_sales_etl_pipeline_spark.functions import local_df
    from azure_sales_etl_pipeline_spark.plans.mlprep import _pair_by_rank

    rows = [
        # group A: clean ladder 400..0 step 100 (5 docs)
        *[(i, "A", 400 - 100 * i) for i in range(5)],
        # group B: all tied
        *[(10 + i, "B", 7) for i in range(4)],
        # group C: single doc
        (20, "C", 999),
        # group D: two docs margin exactly at threshold
        (30, "D", 200), (31, "D", 0),
    ]
    scores = local_df(
        spark, rows, "doc_id bigint, source string, score_milli bigint"
    )
    out = _pair_by_rank(scores, 2, 200).collect()
    by_group: dict[str, list] = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
        assert r["chosen_doc"] != r["rejected_doc"]
        assert r["margin_milli"] >= 200
        assert r["chosen_score_milli"] - r["rejected_score_milli"] == r["margin_milli"]

    a = sorted(by_group["A"], key=lambda r: r["pair_rank"])
    assert [(r["chosen_doc"], r["rejected_doc"]) for r in a] == [(0, 4), (1, 3)]
    assert "B" not in by_group  # all-tied: margin guard drops every pair
    assert "C" not in by_group  # singleton: chosen==rejected collision dropped
    d = by_group["D"]
    assert len(d) == 1 and (d[0]["chosen_doc"], d[0]["rejected_doc"]) == (30, 31)
    assert all(len(v) <= 2 for v in by_group.values())


def test_logreg_probe_band_edges_and_convergence(spark, tmp_path):
    """Pins the planted-task boundaries the 1-row gate can't explain on
    its own: n = _LR_NEG_MAX is kept as a negative, n = _LR_POS_MIN is
    kept as a positive, everything strictly inside the band is dropped
    from training; and on a cleanly separable fixture the trainer must
    report accuracy_ok + loss_monotone."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _LR_NEG_MAX,
        _LR_POS_MIN,
        _LR_ROUNDS,
        logreg_probe_check,
    )

    def doc(i, n):
        return (i, " ".join(f"t{i}w{j}" for j in range(n)), "en", "web", 0)

    rows = [doc(i, 70) for i in range(15)]
    rows += [doc(100 + i, 40) for i in range(15)]
    rows.append(doc(200, _LR_NEG_MAX))      # band edge: kept, negative
    rows.append(doc(201, _LR_POS_MIN))      # band edge: kept, positive
    rows.append(doc(202, _LR_NEG_MAX + 1))  # inside the band: dropped
    rows.append(doc(203, _LR_POS_MIN - 1))  # inside the band: dropped
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = logreg_probe_check(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 32 and r["n_pos"] == 16
    assert r["n_rounds"] == _LR_ROUNDS
    assert r["accuracy_ok"] is True
    assert r["loss_monotone"] is True


def test_epoch_waterfill_matches_python_replay(spark, tmp_path):
    """Exact waterfilling against an independent python replay on a
    fixture with a forced cap/uncap mix: a tiny source must cap at 4
    epochs (4000 milli), big sources absorb the freed budget, and
    total allocation stays within the budget."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        _EPOCH_BUDGET_DEN,
        _EPOCH_BUDGET_NUM,
        _EPOCH_CAP,
        epoch_waterfill_schedule,
    )

    sizes = {"tiny": 10, "mid": 60, "big": 200, "huge": 400}
    rows, did = [], 0
    for src, n in sizes.items():
        rows.append((did, " ".join(f"{src}{j}" for j in range(n)), "en", src, 0))
        did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    # python replay of the exact integer waterfill
    T = dict(sizes)
    c = {s: _EPOCH_CAP * t for s, t in T.items()}
    n = len(T)
    B = (_EPOCH_BUDGET_NUM * sum(T.values())) // _EPOCH_BUDGET_DEN
    order = sorted(T, key=lambda s: (c[s], s))
    s_prev = k_prev = 0
    capped = {}
    for s in order:
        capped[s] = c[s] * (n - k_prev) <= B - s_prev
        if capped[s]:
            s_prev += c[s]
            k_prev += 1
    level = (B - s_prev) // max(n - k_prev, 1)
    want = {
        s: (c[s] if capped[s] else level) for s in T
    }

    out = {r["source"]: r for r in epoch_waterfill_schedule(spark, str(tmp_path)).collect()}
    assert set(out) == set(T)
    for s, r in out.items():
        assert r["corpus_tokens"] == T[s]
        assert r["capped"] == capped[s]
        assert r["alloc_tokens"] == want[s]
        assert r["epochs_milli"] == (1000 * want[s]) // T[s]
    # the forced mix: tiny caps at exactly 4 epochs, huge does not
    assert out["tiny"]["capped"] is True and out["tiny"]["epochs_milli"] == 4000
    assert out["huge"]["capped"] is False
    assert sum(r["alloc_tokens"] for r in out.values()) <= B


def test_curation_pipeline_planted_attrition(spark, tmp_path):
    """Planted corpus where every stage's attrition is known exactly:

    - 3 byte-identical copies of one doc  -> exact_dedup drops 2
    - 1 near-copy of another doc (jaccard >= 0.5, different
      fingerprint) -> near_dup drops 1
    - 1 doc made ENTIRELY of two 8-token chunks each shared with a
      DIFFERENT surviving doc (low pairwise jaccard, so near-dup
      can't touch it) -> rewrite empties it, drops 1; the sharers
      each lose that one chunk but survive
    - 1 doc of too-short gibberish -> quality drops 1
    - doc_id % 20 == 0 is the eval blocklist (doc 0) ->
      decontaminate drops it after it survives everything else
    - pack: rows_out == ceil(total surviving REWRITTEN tokens / 512)
    Also pins the order-dependence that makes the composition more
    than a join of stage outputs: doc 1's chunks would be boilerplate
    against its exact/near copies, but those die in earlier stages,
    so doc 1 keeps its text.
    """
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        curation_pipeline_end_to_end,
    )

    base = " ".join(f"w{i} x{i} y{i} z{i}" for i in range(10))  # 40 toks
    near = base + " tail1 tail2 tail3"  # high shingle overlap with base
    chunk_a = " ".join(f"na{i}" for i in range(8))  # 8-token nav bar
    chunk_b = " ".join(f"nb{i}" for i in range(8))  # 8-token footer
    good40 = lambda tag: " ".join(
        f"{tag}{i} the of and to" for i in range(8)
    )  # 40 unique-ish tokens
    rows = [
        (0, good40("e") + " in extra end", "en", "web", 0),  # eval doc
        (1, base, "en", "web", 0),
        (2, base, "en", "web", 0),  # exact dup of 1
        (3, base, "en", "web", 0),  # exact dup of 1
        (4, near, "en", "web", 0),  # near-dup of 1
        (5, chunk_a + " " + chunk_b, "en", "web", 0),  # pure boilerplate
        (6, chunk_a + " " + good40("a"), "en", "web", 0),  # loses chunk_a
        (7, "short text here now", "en", "web", 0),  # quality drop
        (8, chunk_b + " " + good40("b"), "en", "web", 0),  # loses chunk_b
        (9, good40("c") + " in final words", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rep = {
        r["stage"]: r
        for r in curation_pipeline_end_to_end(spark, str(tmp_path)).collect()
    }
    assert rep["exact_dedup"]["rows_in"] == 10
    assert rep["exact_dedup"]["rows_dropped"] == 2  # docs 2, 3
    assert rep["near_dup"]["rows_dropped"] == 1  # doc 4
    assert rep["boilerplate_rewrite"]["rows_dropped"] == 1  # doc 5
    assert rep["quality_filter"]["rows_dropped"] == 1  # doc 7
    assert rep["decontaminate"]["rows_dropped"] == 1  # doc 0
    # survivors 1, 6, 8, 9 with rewritten token counts 40+40+40+43
    # -> one 512-token sequence
    assert rep["pack"]["rows_in"] == 4
    assert rep["pack"]["rows_out"] == 1
    assert rep["pack"]["rows_dropped"] is None
    # chain integrity: every stage's rows_in is the prior stage's rows_out
    by_ord = sorted(rep.values(), key=lambda r: r["stage_ord"])
    for prev, cur in zip(by_ord, by_ord[1:]):
        assert cur["rows_in"] == prev["rows_out"]


def test_doremi_upweights_planted_hard_domain(spark, tmp_path):
    """DoReMi's multiplicative loop must shift mixture weight toward the
    domain the shared proxy serves WORST. The plant mirrors the paper's
    redundancy story: two 'easy' domains share ONE token distribution
    (each is two-thirds covered by the mixture — excess ln(3/2)) while
    the lone 'hard' domain has a disjoint vocabulary only its own third
    of the mixture covers (excess ln 3). After the rounds the hard
    domain must sit ABOVE its initial ~⅓ split, the easies below, and
    the weights must sum to exactly 1000 (the largest-remainder
    normalization contract)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        doremi_domain_weights,
    )

    easy_text = "alpha bravo charlie delta echo foxtrot"
    hard_text = "zulu yankee xray whiskey victor uniform"
    rows = [(i, easy_text, "en", "easy1", len(easy_text)) for i in range(5)]
    rows += [(50 + i, easy_text, "en", "easy2", len(easy_text)) for i in range(5)]
    rows += [(100 + i, hard_text, "en", "hard", len(hard_text)) for i in range(5)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["source"]: r for r in doremi_domain_weights(spark, str(tmp_path)).collect()}
    assert set(out) == {"easy1", "easy2", "hard"}
    assert sum(r["weight_permille"] for r in out.values()) == 1000
    # hard's excess is ln 3 vs the easies' ln(3/2) at the initial split
    assert out["hard"]["excess_micronats"] > out["easy1"]["excess_micronats"]
    assert out["easy1"]["excess_micronats"] > 0
    # the loop moved real mass toward the hard domain (initial ~333)
    assert out["hard"]["weight_permille"] > 334
    assert out["easy1"]["weight_permille"] < 334
    assert out["easy2"]["weight_permille"] < 334
    # the two identical easy domains end within one rounding quantum
    assert abs(out["easy1"]["weight_permille"] - out["easy2"]["weight_permille"]) <= 1


def test_doremi_two_batch_equals_one_shot(spark, tmp_path):
    """The folded (source, token) count state must drive the reweighting
    loop to the EXACT one-shot weights — the merge_aggregate convergence
    contract applied to DoReMi (the driver additionally enforces this
    against the one-shot SQL oracle at every sample)."""
    from azure_sales_etl_pipeline_spark.plans.mlprep import (
        doremi_domain_weights,
        doremi_two_batch,
    )

    rows = [(i, "alpha bravo charlie delta", "en", "easy1", 25) for i in range(4)]
    rows += [(40 + i, "alpha bravo charlie delta", "en", "easy2", 25) for i in range(4)]
    rows += [(80 + i, "zulu yankee xray whiskey", "en", "hard", 24) for i in range(4)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    one = sorted(map(tuple, doremi_domain_weights(spark, str(tmp_path)).collect()))
    two = sorted(map(tuple, doremi_two_batch(spark, str(tmp_path)).collect()))
    assert one == two
