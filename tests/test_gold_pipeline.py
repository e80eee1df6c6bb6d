"""Materialize-once gold pipeline: one fact lineage feeding all marts,
written to disk, matching the standalone query results."""

from __future__ import annotations

from azure_sales_etl_pipeline_spark.operators.writer import read_table
from azure_sales_etl_pipeline_spark.plans.gold import (
    run_gold_marts,
    seller_performance_monthly,
    seller_segmentation,
)
from tests.conftest import SF_DIR


def test_run_gold_marts_matches_standalone(spark, tmp_path):
    written = run_gold_marts(spark, SF_DIR, str(tmp_path / "gold"))
    assert set(written) == {
        "seller_performance_daily",
        "seller_performance_monthly",
        "seller_performance_quarterly",
        "seller_order_rates",
        "seller_segmentation",
        "customer_behavior",
    }
    assert all(n > 0 for n in written.values())
    # the counts observed during each write are the rows on disk
    for name, n in written.items():
        assert read_table(spark, str(tmp_path / "gold" / name)).count() == n, name

    # written monthly mart ≡ standalone query result
    monthly_disk = read_table(spark, str(tmp_path / "gold" / "seller_performance_monthly"))
    monthly_q = seller_performance_monthly(spark, SF_DIR)
    key = lambda r: (r["order_year"], r["order_month"], r["supplier_key"])  # noqa: E731
    a = sorted(((key(r), r["total_revenue"]) for r in monthly_disk.collect()))
    b = sorted(((key(r), r["total_revenue"]) for r in monthly_q.collect()))
    assert a == b

    seg_disk = read_table(spark, str(tmp_path / "gold" / "seller_segmentation"))
    seg_q = seller_segmentation(spark, SF_DIR)
    a = sorted((r["supplier_key"], r["segment"]) for r in seg_disk.collect())
    b = sorted((r["supplier_key"], r["segment"]) for r in seg_q.collect())
    assert a == b
