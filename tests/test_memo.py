"""The shared-memo module: one store and one evictor for every Spark
result the package keeps across query calls.

Each memo is pinned by one parametrized case: a repeat call hits, the
key carries the session's applicationId, every checkpointed frame the
build registered is freed by ``evict_all`` (``DataFrame.unpersist``
would not free it), every tmp dir is removed, and the consumer's
content is right. Structural pins keep a second cache mechanism, a
harness that skips eviction, or a second job counter from coming back.
"""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pytest

from azure_sales_etl_pipeline_spark import memo
from azure_sales_etl_pipeline_spark.plans import (
    dedup,
    incremental,
    mlprep,
    similarity,
    textops,
)
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "azure_sales_etl_pipeline_spark"
DOCS = "doc_id long, text string, lang string, source string, n_chars long"


def _words(n: int, stem: str = "w") -> str:
    return " ".join(f"{stem}{i}" for i in range(n))


def _write(spark, root: Path, table: str, rows, schema: str) -> None:
    spark.createDataFrame(rows, schema).write.parquet(str(root / f"{table}.parquet"))


def _one_doc(n_tokens: int):
    return lambda spark, root: _write(
        spark, root, "documents", [(1, _words(n_tokens), "en", "web", 0)], DOCS
    )


_NEAR_DUPS = [(1, _words(8), "en", "web", 0), (2, _words(8) + " extra", "en", "web", 0)]


def _near_dup_pair(spark, root):
    _write(spark, root, "documents", _NEAR_DUPS, DOCS)


def _near_dups_and_loner(spark, root):
    _write(spark, root, "documents", _NEAR_DUPS + [(3, _words(8, "z"), "en", "web", 0)], DOCS)


def _two_vectors(spark, root):
    _write(spark, root, "embeddings", [(1, [3.0, 4.0], "a"), (2, [5.0, 12.0], "b")],
           "vec_id long, embedding array<float>, label string")


def _vector_groups(spark, root):
    """16 groups of 4 identical 64-dim vectors: the strided Lloyd seeds
    land one per group, so training converges to the group vectors."""
    rows = [(g * 4 + j, [1.0 if d % 16 == g else -1.0 for d in range(64)], f"g{g}")
            for g in range(16) for j in range(4)]
    _write(spark, root, "embeddings", rows,
           "vec_id long, embedding array<float>, label string")


def _copurchases(spark, root):
    """Parts 10 and 20 share orders 1 and 2 (support 2); 30 rides along once."""
    _write(spark, root, "lineitem", [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30)],
           "l_orderkey long, l_partkey long")


def _customers(spark, root):
    _write(spark, root, "customer",
           [(k, f"c{k}", "BUILDING" if k % 2 else "MACHINERY") for k in range(1, 16)],
           "c_custkey long, c_name string, c_mktsegment string")


def _centroids(spark, sf_dir):
    similarity.cluster_silhouette(spark, sf_dir).collect()
    # a hit never trains, so the corpus argument is never read
    return similarity._shared_centroids(spark, sf_dir, None)


def _check_jaccard(spark, pairs):
    # the two same-source neighbors form exactly one candidate pair
    rows = pairs.collect()
    assert len(rows) == 1 and (rows[0]["doc_a"], rows[0]["doc_b"]) == (1, 2)


def _check_simhash(spark, sigs):
    rows = sigs.collect()
    assert len(rows) == 1 and len(rows[0]["simhash_bits"]) == 64


def _check_minhash(spark, staged_bands):
    staged, bands = staged_bands
    assert staged.count() == 1
    assert bands.count() == dedup._LSH_BANDS


def _check_shingle3(spark, index):
    assert index.count() == 10  # 12 tokens -> 10 distinct 3-shingles


def _check_winnow(spark, fps):
    assert 1 <= fps.count() <= 7  # 12 tokens -> 10 grams -> 7 windows


def _check_norm_corpus(spark, corpus):
    assert corpus.count() == 2


def _check_centroids(spark, centroids):
    assert len(centroids) == similarity._IVF_K


def _check_clusters(spark, path):
    labels = {r["doc_id"]: r["cluster_id"] for r in spark.read.parquet(path).collect()}
    assert labels == {1: 1, 2: 1, 3: 3}


def _check_affinity(spark, path):
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(10, 20)]


def _check_demo(spark, pipe):
    assert pipe.run_log().count() > 0


@dataclass
class Case:
    name: str
    setup: Callable
    call: Callable
    check: Callable
    frames: int | None  # checkpointed frames the build registers
    dirs: int = 0  # tmp dirs the build creates
    rereads: bool = False  # the consumer re-reads the memoized table


CASES = [
    Case("jaccard_pairs", _near_dup_pair, dedup.jaccard_pairs_raw, _check_jaccard, 1),
    Case("simhash_sigs", _one_doc(8), dedup.simhash_sigs_raw, _check_simhash, 1),
    Case("minhash_stage", _one_doc(12), dedup._staged_shingles_and_bands,
         _check_minhash, 2),
    Case("shingle3", _one_doc(12), dedup.shingle3_index, _check_shingle3, 1),
    Case("winnow_fp", _one_doc(12), textops.winnowing_fingerprints_raw,
         _check_winnow, 1),
    Case("norm_corpus", _two_vectors, similarity._norm_corpus, _check_norm_corpus, 1),
    Case("ivf_centroids", _vector_groups, _centroids, _check_centroids, None),
    Case("dedup_clusters", _near_dups_and_loner, mlprep.dedup_clusters,
         _check_clusters, None, dirs=1, rereads=True),
    Case("affinity_edges", _copurchases, mlprep._affinity_edges,
         _check_affinity, None, dirs=1, rereads=True),
    Case("demo_pipeline", _customers, incremental._demo_pipeline_cached,
         _check_demo, None, dirs=1),
]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _eventually(cond: Callable[[], bool]) -> bool:
    # blocking=False unpersist is asynchronous on the JVM side
    for _ in range(50):
        if cond():
            return True
        time.sleep(0.1)
    return cond()


@pytest.mark.parametrize("case", CASES, ids=[c.name for c in CASES])
def test_memo_hits_and_evicts(spark, tmp_path, case):
    sf_dir = str(tmp_path)
    case.setup(spark, tmp_path)
    key = (case.name, spark.sparkContext.applicationId, sf_dir)
    before = _persistent_rdds(spark)

    first = case.call(spark, sf_dir)
    entry = memo._STORE[key]  # the key carries the session's applicationId
    value, releases = entry
    again = case.call(spark, sf_dir)
    assert memo._STORE[key] is entry  # a repeat call hits, never rebuilds
    if not case.rereads:
        assert first is value and again is value
    if case.frames is not None:
        added = _persistent_rdds(spark) - before
        assert len(added) == case.frames == len(releases)
    dirs = [r for r in releases if isinstance(r, str)]
    assert len(dirs) == case.dirs and all(os.path.isdir(d) for d in dirs)
    case.check(spark, value)

    memo.evict_all(where=lambda k: k[2] == sf_dir)
    assert not [k for k in memo._STORE if k[2] == sf_dir]
    assert not any(os.path.exists(d) for d in dirs)
    if case.frames is not None:
        assert _eventually(lambda: not (added & _persistent_rdds(spark)))


def test_evict_all_where_keeps_unmatched_entries(spark, tmp_path):
    """``where`` drops only the entries it accepts (conftest's per-test
    eviction keeps the shared testdata memos warm)."""
    dirs = []
    for tag in ("a", "b"):
        root = tmp_path / tag
        root.mkdir()
        _one_doc(8)(spark, root)
        dedup.simhash_sigs_raw(spark, str(root))
        dirs.append(str(root))
    memo.evict_all(where=lambda k: k[2] == dirs[0])
    assert [k[2] for k in memo._STORE if k[2] in dirs] == [dirs[1]]
    memo.evict_all(where=lambda k: k[2] == dirs[1])


def test_failed_build_releases_what_it_registered(tmp_path):
    """A build that raises stores nothing and leaves no tmp dir behind."""

    class Session:
        class sparkContext:
            applicationId = "app"

    made = []

    def build(keep):
        made.append(keep.tmpdir("memo_test_"))
        raise ValueError("boom")

    with pytest.raises(ValueError):
        memo.shared("failing", Session, str(tmp_path), build)
    assert not os.path.exists(made[0])
    assert ("failing", "app", str(tmp_path)) not in memo._STORE


def test_racing_builds_keep_one_entry(tmp_path):
    """Threads that miss the same key at once all build: every caller
    gets the entry stored first, and each losing build's tmp dir is
    freed at once instead of outliving its unreachable entry. More
    threads than cores, and a short switch interval, so a lost update
    between the miss and the store would show."""
    import threading

    class Session:
        class sparkContext:
            applicationId = "app"

    n = 2 * os.cpu_count()
    all_missed = threading.Barrier(n, timeout=30)
    made, got = [], []

    def build(keep):
        made.append(keep.tmpdir("memo_race_"))
        all_missed.wait()
        return object()

    def call():
        got.append(memo.shared("race", Session, str(tmp_path), build))

    threads = [threading.Thread(target=call) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    value, releases = memo._STORE[("race", "app", str(tmp_path))]
    assert got == [value] * n
    assert [d for d in made if os.path.exists(d)] == releases
    memo.evict_all(where=lambda k: k[0] == "race")
    assert not any(os.path.exists(d) for d in made)


def _module_level_dict_stores(path: Path) -> list[str]:
    names = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            value = node.value
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "defaultdict", "OrderedDict")
            )
            if empty_dict:
                target = node.targets[0] if isinstance(node, ast.Assign) else node.target
                names.append(ast.unparse(target))
    return names


def test_memo_is_the_only_module_level_cache():
    """Every module-level store filled at runtime lives in ``memo.py``.
    ``catalog._SCHEMA_CACHE`` is exempt: it holds path-keyed parquet
    schemas (metadata, no Spark results), and nothing times its fill."""
    found = {
        f"{p.relative_to(PACKAGE).with_suffix('')}.{name}"
        for p in PACKAGE.rglob("*.py")
        for name in _module_level_dict_stores(p)
    }
    assert found == {"memo._STORE", "catalog._SCHEMA_CACHE"}


@pytest.mark.parametrize("harness", ["bench.py"], ids=["bench"])
def test_pass_harnesses_call_memo_evict_all(harness):
    """Each harness that times passes evicts every memo before a pass
    with the one call, so no memo can be missing from a hand-kept list."""
    calls = [
        node
        for node in ast.walk(ast.parse((REPO / harness).read_text()))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) in ("memo.evict_all", "evict_all")
    ]
    assert len(calls) == 1


def _is_query_call(node: ast.AST) -> bool:
    """``fn(spark, ...)`` or ``qs[name](spark, ...)``: a registry query."""
    return (
        isinstance(node, ast.Call)
        and (isinstance(node.func, ast.Subscript) or ast.unparse(node.func) == "fn")
        and bool(node.args)
        and ast.unparse(node.args[0]) == "spark"
    )


@pytest.mark.parametrize(
    "harness",
    ["bench.py", "scripts/check_oracle.py", "scripts/plan_audit.py"],
    ids=["bench", "check_oracle", "plan_audit"],
)
def test_harnesses_run_each_query_in_a_scope(harness):
    """Each harness calls every query, and that query's write (or
    collect, or plan read), inside one ``rounds.scope()``, so the
    query's eager cuts are freed when it is done instead of waiting
    for a JVM GC."""
    tree = ast.parse((REPO / harness).read_text())
    scoped = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.With)
        and any(ast.unparse(i.context_expr) in ("rounds.scope()", "scope()") for i in node.items)
    ]
    inside = {id(n) for w in scoped for n in ast.walk(w) if _is_query_call(n)}
    calls = [n for n in ast.walk(tree) if _is_query_call(n)]
    assert calls and all(id(n) in inside for n in calls), harness
    for w in scoped:
        names = {n.func.attr for n in ast.walk(w)
                 if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)}
        assert names & {"save", "collect", "explainString"}, f"{harness}:{w.lineno}"


def test_job_counter_is_read_in_observe_only():
    """Jobs are counted one way, by ``observe.count_jobs``: no other
    module outside ``perfbench/`` reads the job-id counter or a job
    group's job ids."""
    readers = {
        str(rel)
        for rel in (p.relative_to(REPO) for p in REPO.rglob("*.py"))
        if not any(part == "perfbench" or part.startswith(".") for part in rel.parts)
        for node in ast.walk(ast.parse((REPO / rel).read_text()))
        if isinstance(node, ast.Attribute) and node.attr in ("nextJobId", "getJobIdsForGroup")
    }
    assert readers == {"azure_sales_etl_pipeline_spark/observe.py"}


def _leftover_checkpoints(tmp_path, body: str) -> list[Path]:
    """Run ``body`` in a fresh process whose session checkpoints into a
    local dir, then stop Spark and exit; the ``rdd-N`` dirs left."""
    ckpt = tmp_path / "ckpt"
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from azure_sales_etl_pipeline_spark.operators import rounds
from azure_sales_etl_pipeline_spark.plans import registry
from azure_sales_etl_pipeline_spark.session import get_spark
spark = get_spark(master="local[2]", extra_conf={{"spark.checkpoint.dir": {str(ckpt)!r}}})
{body}
spark.stop()
"""
    subprocess.run([sys.executable, "-c", script], check=True, capture_output=True, timeout=600)
    assert list(ckpt.iterdir()), "the session checkpointed nowhere"
    return list(ckpt.glob("*/rdd-*"))


def test_exit_removes_memo_checkpoint_files(tmp_path):
    """With a session checkpoint dir, a memo entry's cuts are reliable
    checkpoints; a process that stops Spark and exits without
    ``evict_all`` must still leave none of their ``rdd-N`` dirs."""
    assert not _leftover_checkpoints(tmp_path, f"""
with rounds.scope():
    registry()[0]["ngram_jaccard_pairs"](spark, {SF_DIR!r}).write.format("noop").mode("overwrite").save()
""")


def test_exit_removes_unscoped_checkpoint_files(tmp_path):
    """A reliable cut made with no scope open has the process as its
    owner of last resort: exiting leaves none of its ``rdd-N`` dirs."""
    assert not _leftover_checkpoints(tmp_path, "rounds.cut(spark.range(10))")


def test_benchmark_memo_discovery_finds_and_evicts_the_store(spark, monkeypatch):
    """perfbench finds memos by walking the package for ``evict_*``
    callables and the dict globals their code names; a misnamed
    evictor, or a store hidden behind a helper, makes every pass after
    the first read the memo warm."""
    monkeypatch.syspath_prepend(str(REPO / "perfbench"))
    workloads = importlib.import_module("workloads")

    mlprep.dedup_clusters(spark, SF_DIR)
    key = ("dedup_clusters", spark.sparkContext.applicationId, SF_DIR)
    assert ("azure_sales_etl_pipeline_spark.memo._STORE", key) in workloads.Memos().keys()
    workloads.Memos().evict_all()
    assert not workloads.Memos().keys()
