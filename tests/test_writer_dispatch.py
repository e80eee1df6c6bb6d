"""Writer surface: for EVERY table writer — overwrite / append /
managed — prove

1. the writer writes plain parquet that reads back,
2. a caller asking for a Delta backend (a ``backend=`` argument, which
   no writer takes) gets an error before any side effect (nothing on
   disk, no write issued) — never a silent parquet write in place of
   the Delta table it asked for.
"""

from __future__ import annotations

import pytest

from azure_sales_etl_pipeline_spark.operators import writer as W


class FakeDF:
    """Fails the test if a writer starts a write."""

    @property
    def write(self):
        raise AssertionError("the writer started a write")


WRITERS = {
    "overwrite": lambda df, path, **kw: W.overwrite_table(df, path, **kw),
    "append": lambda df, path, **kw: W.append_evolve(None, df, path, **kw),
    "managed": lambda df, path, **kw: W.save_managed_table(df, "db.t", **kw),
}


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_delta_without_package_raises_before_side_effects(name, tmp_path):
    target = tmp_path / "t"
    with pytest.raises(TypeError, match="backend"):
        WRITERS[name](FakeDF(), str(target), backend="delta")
    assert not target.exists()


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_parquet_default_used_by_real_pipeline(name, spark, tmp_path):
    """Each writer actually writes parquet (the engine's one format)."""
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    path = str(tmp_path / "t")
    if name == "managed":
        W.create_database(spark, "disp_test")
        W.save_managed_table(df, "disp_test.t")
        assert spark.table("disp_test.t").count() == 1
        spark.sql("DROP TABLE disp_test.t")
        spark.sql("DROP DATABASE disp_test")
        return
    if name == "append":
        W.append_evolve(spark, df, path)
    else:
        WRITERS[name](df, path)
    assert W.read_table(spark, path).count() == 1
