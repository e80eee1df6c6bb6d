"""Query-scoped materialization: every eager cut goes through
``operators.rounds.cut``, the innermost open ``rounds.scope()`` owns
it, and a memo entry owns the cuts its build made.

The fast subset runs one query per module that cuts, plus a memo
consumer, an ``iterate`` consumer and a stream fold, each the way the
harnesses run it (query and noop write inside one scope, then the
per-pass memo eviction): every RDD the run left persistent must be
gone afterwards. ``spark.catalog.clearCache()`` would not do it — the
cache manager never saw a checkpoint.
"""

from __future__ import annotations

import time

import pytest

from azure_sales_etl_pipeline_spark import memo
from azure_sales_etl_pipeline_spark.operators import rounds
from tests.conftest import SF_DIR


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _eventually(cond) -> bool:
    # unpersist(blocking=False) is asynchronous on the JVM side
    for _ in range(50):
        if cond():
            return True
        time.sleep(0.1)
    return cond()


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _frame(spark, n: int = 10):
    return spark.range(n).selectExpr("id", "id * 2 AS twice")


def test_innermost_scope_owns_a_cut(spark):
    with rounds.scope():
        outer = rounds.cut(_frame(spark))
        with rounds.scope():
            inner = rounds.cut(_frame(spark, 5))
        assert _eventually(lambda: _rdd_id(inner) not in _persistent_rdds(spark))
        assert _rdd_id(outer) in _persistent_rdds(spark)
        assert outer.count() == 10
    assert _eventually(lambda: _rdd_id(outer) not in _persistent_rdds(spark))


def test_release_frees_one_cut_and_its_scope_forgets_it(spark):
    with rounds.scope() as owned:
        a, b = rounds.cut(_frame(spark)), rounds.cut(_frame(spark, 3))
        rounds.release(a)
        assert [h.id() for h in owned] == [_rdd_id(b)]
        assert _eventually(lambda: _rdd_id(a) not in _persistent_rdds(spark))
        assert b.count() == 3


def test_memo_entry_outlives_the_query_scope(spark, tmp_path):
    """A memo build inside a query scope keeps its cuts: a later query
    reads the value after the paying query's scope has closed."""
    sf_dir = str(tmp_path)
    with rounds.scope():
        value = memo.shared("scope_test", spark, sf_dir, lambda _keep: rounds.cut(_frame(spark)))
    assert value.count() == 10
    assert _rdd_id(value) in _persistent_rdds(spark)
    memo.evict_all(where=lambda k: k[2] == sf_dir)
    assert _eventually(lambda: _rdd_id(value) not in _persistent_rdds(spark))


def test_failed_build_frees_its_cuts(spark, tmp_path):
    made = []

    def build(_keep):
        made.append(rounds.cut(_frame(spark)))
        raise ValueError("boom")

    with pytest.raises(ValueError):
        memo.shared("scope_fail", spark, str(tmp_path), build)
    assert _eventually(lambda: _rdd_id(made[0]) not in _persistent_rdds(spark))


#: one query per module that cuts (maintenance through its merge-index
#: caller), a memo consumer, an ``iterate`` consumer and a stream fold
_SUBSET = [
    "order_drift_histogram",  # analytics
    "scd2_two_batch_history",  # incremental (and the SCD2 upsert's own scope)
    "dedup_index_two_batch",  # operators.maintenance.merge_fingerprint_index
    "token_budget_shards",  # mlprep
    "bm25_topterms",  # textops
    "record_linkage_scores",  # dedup
    "embedding_outlier_audit",  # similarity
    "bradley_terry_two_batch",  # stats
    "media_text_alignment",  # multimodal
    "key_skew_profile",  # scale
    "range_join_order_activity",  # temporal
    "ngram_jaccard_pairs",  # memo consumer
    "k_core_vertices",  # rounds.iterate consumer
    "stream_drift_monitor",  # stream fold
]


@pytest.mark.parametrize("name", _SUBSET)
def test_query_scope_releases_every_cut(spark, name):
    from azure_sales_etl_pipeline_spark.plans import registry

    fn = registry()[0][name]
    before = _persistent_rdds(spark)
    with rounds.scope():
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    memo.evict_all()
    assert _eventually(lambda: not (_persistent_rdds(spark) - before)), (
        f"{name} left {sorted(_persistent_rdds(spark) - before)} persistent"
    )
