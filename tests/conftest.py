from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from azure_sales_etl_pipeline_spark import memo
from azure_sales_etl_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Streaming state partitions: every stateful operator materializes one
# state-store instance PER PARTITION per provider, and store init (not
# data — sf0.001 rows are KBs) dominates the suite's ~20 AvailableNow
# drains. 8 -> 2 measured the provider-matrix test 82 s -> 34 s with
# identical results (keyed state is partition-count invariant; every
# drain collects sorted). Respect an explicit override.
os.environ.setdefault("SPARK_GRAFT_STREAM_PARTITIONS", "2")


@pytest.fixture(autouse=True)
def _drop_tmp_dir_memos():
    """Evict shared-memo entries built over a test's own data dir after
    each test: they would otherwise pin their checkpoint blocks and tmp
    dirs for the whole session. Entries over the shared testdata
    fixtures stay warm — tests reuse them, and exit frees them."""
    yield
    testdata = os.path.dirname(SF_DIR) + os.sep
    memo.evict_all(where=lambda key: not str(key[2]).startswith(testdata))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[16]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        # sf0.001 fixtures: shuffles move KBs, so task-launch count and
        # compression CPU dominate — 4 partitions + uncompressed shuffle
        # measured faster than 8/compressed across the whole suite
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        # tiny createDataFrame/parallelize jobs otherwise launch 16
        # tasks each on local[16] — task-launch overhead dominates the
        # suite's thousands of micro-jobs
        "spark.default.parallelism": "4",
    })
    yield s
    s.stop()
