"""``bench.py`` without a Spark session: the run order and the check
of the query names on its command line."""

from __future__ import annotations

import pytest

import bench
from azure_sales_etl_pipeline_spark import plans


def test_run_order_is_by_name_whatever_the_sweep_priority(monkeypatch):
    qs = plans.registry()[0]
    monkeypatch.setattr(plans, "_SWEEP_PRIORITY", plans._SWEEP_PRIORITY[::-1])
    reordered = plans.registry()[0]
    assert list(reordered) != list(qs)
    assert bench.run_order(reordered, []) == bench.run_order(qs, []) == sorted(qs)
    assert bench.run_order(qs, ["k_core_vertices", "dedup_clusters"]) == [
        "dedup_clusters", "k_core_vertices"
    ]


def test_unknown_query_fails_before_a_session_starts(monkeypatch):
    def no_session(**_kw):
        raise AssertionError("a session started")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(SystemExit, match="no_such_query"):
        bench.main(["dedup_clusters", "no_such_query"])
