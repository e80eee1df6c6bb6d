"""Property-based tests (hypothesis) for the engine's algebraic
invariants — the claims that must hold for EVERY input, not just the
fixture data:

- salted_join ≡ plain join (any key distribution, any salt count)
- merge_aggregate over any batch split ≡ one full recompute
- token-budget shard assignment is a deterministic pure function of
  (ordered sizes, budget): shards are contiguous, start at 0, and no
  doc's start offset crosses into the wrong shard
- the one connected-components kernel ≡ union-find, and the one
  integer-Lloyd trainer ≡ a numpy reference Lloyd
- ``operators.rounds.iterate`` honours its bound, cut cadence and null probes
- an evolving append's pinned schema reads the same rows, types and
  nullability as footer inference, in ``existing + arrivals`` order
- the SCD2 upsert (both delete modes, with ``ensure_members``) ≡ a
  plain-Python SCD2 reference

Hypothesis drives row multisets (with duplicates and skew) through the
same code paths the fixture tests use; Spark jobs per example are kept
tiny (≤60 rows) so the suite stays fast.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections import Counter
from decimal import Decimal

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_sales_etl_pipeline_spark.catalog import table_exists
from azure_sales_etl_pipeline_spark.observe import count_jobs
from azure_sales_etl_pipeline_spark.operators.maintenance import (
    _CC_MAX_ITERS,
    _cc_min_label,
    merge_aggregate,
)
from azure_sales_etl_pipeline_spark.operators.rounds import iterate
from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table
from azure_sales_etl_pipeline_spark.plans.scale import salted_join
from azure_sales_etl_pipeline_spark.plans.similarity import (
    _IVF_ITERS,
    _IVF_K,
    _PQ_ITERS,
    _PQ_K,
    _PQ_M,
    _PQ_SUBDIM,
    _train_codebooks,
)
from tests.conftest import SF_DIR

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_keys = st.integers(min_value=0, max_value=5)  # few keys → forced collisions/skew


@given(
    left=st.lists(st.tuples(_keys, st.integers(-100, 100)), min_size=0, max_size=30),
    right=st.lists(st.tuples(_keys, st.integers(-100, 100)), min_size=0, max_size=30),
    n_salts=st.integers(min_value=1, max_value=5),
)
@_slow
def test_salted_join_equivalence(spark, left, right, n_salts):
    ldf = spark.createDataFrame(left or [(99, 0)], "k int, a int")
    rdf = spark.createDataFrame(right or [(98, 0)], "k int, b int")
    plain = sorted(tuple(r) for r in ldf.join(rdf, "k").collect())
    salted = sorted(
        tuple(r) for r in salted_join(ldf, rdf, "k", n_salts=n_salts).select("k", "a", "b").collect()
    )
    assert salted == plain


@given(
    rows=st.lists(st.tuples(_keys, st.integers(-50, 50)), min_size=1, max_size=40),
    cut=st.integers(min_value=0, max_value=40),
)
@_slow
def test_merge_aggregate_any_split_matches_recompute(spark, tmp_path_factory, rows, cut):
    mart = str(tmp_path_factory.mktemp("mart") / "m")
    df = spark.createDataFrame(rows, "k int, v int")
    cut = min(cut, len(rows))
    b1 = spark.createDataFrame(rows[:cut] or [(0, 0)], "k int, v int").limit(cut)
    b2 = spark.createDataFrame(rows[cut:] or [(0, 0)], "k int, v int").limit(
        len(rows) - cut
    )
    merge_aggregate(spark, mart, b1, keys=["k"], sums=["v"])
    out = merge_aggregate(spark, mart, b2, keys=["k"], sums=["v"])
    got = {r["k"]: (r["v"], r["n_rows"]) for r in out.collect()}
    full = df.groupBy("k").agg(F.sum("v").alias("v"), F.count(F.lit(1)).alias("n"))
    want = {r["k"]: (r["v"], r["n"]) for r in full.collect()}
    assert got == want


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=50),
    budget=st.integers(min_value=10, max_value=1000),
)
@settings(max_examples=30, deadline=None)
def test_shard_assignment_contiguous_and_exact(sizes, budget):
    """The pure shard rule (floor(start/budget)) the Spark operator
    implements: shards must start at 0, be contiguous, and respect the
    start-offset rule exactly — checked against a sequential fold."""
    starts, acc = [], 0
    for s in sizes:
        starts.append(acc)
        acc += s
    shards = [s // budget for s in starts]
    assert shards[0] == 0
    for a, b in zip(shards, shards[1:]):
        assert 0 <= b - a  # monotone
    # each shard's docs occupy a contiguous index range
    seen = {}
    for i, sh in enumerate(shards):
        seen.setdefault(sh, []).append(i)
    for idxs in seen.values():
        assert idxs == list(range(idxs[0], idxs[-1] + 1))


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=12), min_size=1, max_size=16
    ),
    cut=st.integers(min_value=0, max_value=16),
)
@_slow
def test_fingerprint_index_any_split_matches_one_shot(
    spark, tmp_path_factory, texts, cut
):
    """Folding ANY two-batch split of a corpus (ids monotone across the
    split) into the fingerprint index converges to the one-shot exact
    dedup: same keepers, same dup counts; survivors across both batches
    are exactly the keepers."""
    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        merge_fingerprint_index,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    cut = min(cut, len(rows))
    idx_path = str(tmp_path_factory.mktemp("fpidx") / "i")
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    survivors = []
    for lo, hi in ((0, cut), (cut, len(rows))):
        batch = rows[lo:hi]
        if not batch:
            continue
        s, _ = merge_fingerprint_index(
            spark, idx_path, spark.createDataFrame(batch, "doc_id bigint, text string")
        )
        survivors += [r["doc_id"] for r in s.collect()]
    from pyspark.sql import functions as F2
    from azure_sales_etl_pipeline_spark.operators.writer import read_table

    got = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in read_table(spark, idx_path).collect()
    }
    norm = F2.sha2(
        F2.lower(F2.regexp_replace(F2.trim(F2.col("text")), r"\s+", " ")), 256
    )
    want = {
        r["k"]: r["n"]
        for r in docs.select("doc_id", norm.alias("fp"))
        .groupBy("fp")
        .agg(F2.min("doc_id").alias("k"), F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert sorted(survivors) == sorted(want)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=900), min_size=1, max_size=60),
    context=st.integers(min_value=8, max_value=700),
)
@settings(max_examples=30, deadline=None)
def test_concat_chunk_packing_pure_rule(sizes, context):
    """The pure concat-and-chunk rule pack_sequences implements:
    segments tile every sequence exactly (full except the last), and
    each doc's segments cover it contiguously — checked against a
    sequential fold, independent of Spark."""
    segs = []
    g = 0
    for doc, n in enumerate(sizes):
        start, end = g, g + n
        g = end
        s = start
        while s < end:
            seq = s // context
            e = min(end, (seq + 1) * context)
            segs.append((seq, doc, s - start, s - seq * context, e - s))
            s = e
    total = sum(sizes)
    last_seq = (total - 1) // context
    by_seq = {}
    for seq, doc, d_off, s_off, n in segs:
        by_seq.setdefault(seq, []).append((s_off, n))
    for seq, ss in by_seq.items():
        ss.sort()
        pos = 0
        for s_off, n in ss:
            assert s_off == pos
            pos += n
        assert pos == (context if seq != last_seq else total - last_seq * context)
    by_doc = {}
    for seq, doc, d_off, s_off, n in segs:
        by_doc.setdefault(doc, []).append((d_off, n))
    for doc, ss in by_doc.items():
        ss.sort()
        pos = 0
        for d_off, n in ss:
            assert d_off == pos
            pos += n
        assert pos == sizes[doc]


@given(
    samples=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),  # sample key
            st.binary(min_size=0, max_size=64),          # payload incl. empty/NULs
            st.integers(min_value=0, max_value=3),       # shard
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
@_slow
def test_wds_roundtrip_any_bytes(spark, samples, tmp_path_factory):
    """write_wds_shards → read_wds_shards is the identity on (key,
    payload, shard) for ANY payload bytes — empty payloads, NUL bytes,
    non-UTF8 — and any shard assignment including singleton shards."""
    from azure_sales_etl_pipeline_spark.sources.formats import (
        read_wds_shards,
        write_wds_shards,
    )

    out = str(tmp_path_factory.mktemp("wds_prop"))
    df = spark.createDataFrame(
        samples, "doc_id bigint, payload binary, shard_id bigint"
    )
    write_wds_shards(df, out)
    back = read_wds_shards(spark, out).collect()
    got = {(r["sample_key"], bytes(r["payload"]), r["shard_id"]) for r in back}
    want = {(k, p, s) for k, p, s in samples}
    assert got == want


# ---------------------------------------------------------------------------
# r14 Arrow-kernel exactness: the vectorized assign/encode kernels must
# reproduce the interpreted integer semantics bit-for-bit — including
# first-index argmin ties — on ARBITRARY integer inputs, not just the
# benign testdata distributions.
# ---------------------------------------------------------------------------

_coord = st.integers(min_value=-(10**6), max_value=10**6)


def _ref_assign(vecs, cents):
    """Reference semantics: exact squared-L2, first index on ties —
    the ``array_position(array_min)`` contract the oracles replay."""
    out = []
    for v in vecs:
        dists = [sum((x - c) ** 2 for x, c in zip(v, cent)) for cent in cents]
        out.append(dists.index(min(dists)))
    return out


@_slow
@given(
    data=st.data(),
    dim=st.integers(min_value=1, max_value=6),
    k=st.integers(min_value=1, max_value=5),
    n=st.integers(min_value=1, max_value=25),
)
def test_coarse_assign_kernel_matches_reference(spark, data, dim, k, n):
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _coarse_assign_np,
    )

    vec = st.lists(_coord, min_size=dim, max_size=dim)
    # draw centroids and vectors from the same tiny grid so duplicate
    # distances (tie-breaks) actually occur
    cents = data.draw(st.lists(vec, min_size=k, max_size=k))
    vecs = data.draw(st.lists(st.sampled_from(cents + [data.draw(vec)]), min_size=n, max_size=n))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, q array<bigint>"
    )
    got = {
        r["vec_id"]: (r["cluster"], r["d2"])
        for r in _coarse_assign_np(
            df, cents, keep=["vec_id bigint"], emit=("cluster", "d2")
        ).collect()
    }
    want_cluster = _ref_assign(vecs, cents)
    for i, v in enumerate(vecs):
        wc = want_cluster[i]
        wd = sum((x - c) ** 2 for x, c in zip(v, cents[wc]))
        assert got[i] == (wc, wd), (i, v, cents)


@_slow
@given(
    data=st.data(),
    k=st.integers(min_value=1, max_value=4),
    n=st.integers(min_value=1, max_value=15),
)
def test_pq_encode_kernel_matches_reference(spark, data, k, n):
    """Per-subspace codes from the Arrow kernel == per-subspace
    reference argmin over the sliced subvectors (codes and the
    d2-stats variant agree with each other too)."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _PQ_M,
        _PQ_SUBDIM,
        _pq_encode_np,
        _pq_encode_stats_np,
    )

    dim = _PQ_M * _PQ_SUBDIM
    vec = st.lists(_coord, min_size=dim, max_size=dim)
    vecs = data.draw(st.lists(vec, min_size=n, max_size=n))
    subvec = st.lists(_coord, min_size=_PQ_SUBDIM, max_size=_PQ_SUBDIM)
    books = data.draw(
        st.lists(
            st.lists(subvec, min_size=k, max_size=k),
            min_size=_PQ_M,
            max_size=_PQ_M,
        )
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, qfull array<bigint>"
    )
    got = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode_np(df, books, keep=["vec_id bigint"]).collect()
    }
    stats = {
        (r["vec_id"], r["sub"]): (r["code"], r["d2"])
        for r in _pq_encode_stats_np(df, books).collect()
    }
    for i, v in enumerate(vecs):
        for s in range(_PQ_M):
            sub = v[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
            dists = [
                sum((x - c) ** 2 for x, c in zip(sub, cent))
                for cent in books[s]
            ]
            want = dists.index(min(dists))
            assert got[i][s] == want
            assert stats[(i, s)] == (want, min(dists))


# ---------------------------------------------------------------------------
# The one CC kernel (``_cc_min_label``) against union-find: any id type,
# empty graphs, duplicate edges and self-loops.
# ---------------------------------------------------------------------------

_CC_KINDS = {
    "bigint": ("bigint", lambda i: i),
    # "n10" < "n2": string order is not the numeric order
    "string": ("string", lambda i: f"n{i}"),
    # reversed order, two-digit scale
    "decimal": ("decimal(12,2)", lambda i: Decimal(50 - i) / 4),
}


def _union_find_labels(edges):
    """node → minimum node of its component; the root is always the
    smaller of the two roots, so every root is its set's minimum."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_edges(spark, kind, pairs):
    sql_type, conv = _CC_KINDS[kind]
    edges = [(conv(a), conv(b)) for a, b in pairs]
    return edges, spark.createDataFrame(edges, f"src {sql_type}, dst {sql_type}")


@pytest.mark.parametrize("kind", sorted(_CC_KINDS))
@_slow
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=0, max_size=14
    )
)
@example(pairs=[])
@example(pairs=[(0, 0), (1, 2), (2, 1), (1, 2), (3, 3), (4, 3)])
@example(pairs=[(9, 10), (10, 2), (5, 11)])  # string: n10 < n11 < n2 < n5 < n9
def test_cc_kernel_matches_union_find(spark, kind, pairs):
    """String labels are the case the golden-record query needs (part
    names) and the one a numeric convergence probe breaks: every probe
    in the kernel must stay type-generic."""
    edges, df = _cc_edges(spark, kind, pairs)
    got = {r["node"]: r["label"] for r in _cc_min_label(df).collect()}
    assert got == _union_find_labels(edges)


def test_cc_kernel_raises_past_round_bound(spark):
    """Pointer doubling settles a 383-node chain in exactly
    ``_CC_MAX_ITERS`` rounds; one node more needs another round, and
    the kernel must raise rather than return mislabeled components."""
    assert _CC_MAX_ITERS == 8  # the two chain lengths below assume it
    _, ok = _cc_edges(spark, "bigint", [(i, i + 1) for i in range(382)])
    assert {r["label"] for r in _cc_min_label(ok).collect()} == {0}
    _, deep = _cc_edges(spark, "bigint", [(i, i + 1) for i in range(383)])
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_min_label(deep)


def test_dedup_clusters_job_count_pins_exchange_reuse(spark, tmp_path):
    """The CC build over a planted 30-doc dup chain (5 pointer-doubling
    rounds) fires 27 jobs: two eager cuts (adjacency, seed labels) and
    five per round — the count of the DECIMAL label-sum loop the kernel
    replaced. The round's ``mid ⋈ lab_map`` self-join must keep both
    sides' aggregates identical so Spark reuses the groupBy exchange;
    losing that reuse adds jobs
    (31 here)."""
    from azure_sales_etl_pipeline_spark.plans.dedup import jaccard_pairs_raw
    from azure_sales_etl_pipeline_spark.plans.mlprep import _compute_dedup_clusters

    words = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(words[i : i + 10]), "en", "src0", 10) for i in range(30)]
    rows.append((100, "zebra quokka axolotl narwhal pangolin", "en", "src0", 37))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    jaccard_pairs_raw(spark, str(tmp_path))  # the memoized pair table is not CC work

    assert count_jobs(spark, lambda: _compute_dedup_clusters(spark, str(tmp_path))) == 27


def _ref_hash(row, tracked):
    """``sha2(concat_ws('||', tracked), 256)``: nulls are skipped."""
    text = "||".join(str(row[c]) for c in tracked if row.get(c) is not None)
    return hashlib.sha256(text.encode()).hexdigest()


class _RefDim:
    """Plain-Python SCD2 over non-null keys: the join counts pairs, a
    key with any UPDATE pair expires ALL its current rows and versions
    ALL its batch rows, and ABSENT keys expire only in expire mode."""

    def __init__(self, expire: bool):
        self.expire, self.cols, self.rows = expire, [], None

    def upsert(self, cols, batch, now, expire_absent=None):
        expire = self.expire if expire_absent is None else expire_absent
        src = [dict(zip(cols, r)) for r in batch]
        for s in src:
            s["hash"] = _ref_hash(s, [c for c in cols if c != "id"])
        stats = {"insert": 0, "update": 0, "no_change": 0}
        if self.expire:
            stats["deleted"] = 0
        stamp = {"is_current": True, "effective_date": now, "end_date": None}
        if self.rows is None:
            self.cols, self.rows = list(cols), [{**s, **stamp} for s in src]
            stats["insert"] = len(src)
            return stats
        current = [t for t in self.rows if t["is_current"]]
        pairs = Counter()
        updated = set()
        for s in src:
            matches = [t for t in current if t["id"] == s["id"]]
            pairs["insert"] += not matches
            for t in matches:
                kind = "update" if t["hash"] != s["hash"] else "no_change"
                pairs[kind] += 1
                if kind == "update":
                    updated.add(s["id"])
        batch_keys = {s["id"] for s in src}
        absent = [t for t in current if t["id"] not in batch_keys] if expire else []
        stats.update({k: pairs[k] for k in ("insert", "update", "no_change")})
        if self.expire:
            stats["deleted"] = len(absent)
        if not (pairs["insert"] or pairs["update"] or absent):
            return stats
        current_keys = {t["id"] for t in current}
        for t in current:
            if t["id"] in updated or (expire and t["id"] not in batch_keys):
                t["is_current"], t["end_date"] = False, now
        self.rows += [
            {**s, **stamp} for s in src if s["id"] in updated or s["id"] not in current_keys
        ]
        self.cols += [c for c in cols if c not in self.cols]
        return stats

    def members(self, keys, now):
        missing = sorted(set(keys) - {t["id"] for t in self.rows if t["is_current"]})
        if not missing:
            return 0
        blank = (None,) * (len(self.cols) - 1)
        return self.upsert(self.cols, [(k, *blank) for k in missing], now, False)["insert"]


_SCD2_VALUES = st.sampled_from(["a", "b", None])


@st.composite
def _scd2_steps(draw):
    """1-4 steps: batches over keys 0-5 (repeats allowed) whose columns
    may gain ``tier``, and after the first batch ``ensure_members``."""
    steps = []
    for i in range(draw(st.integers(1, 4))):
        if i and draw(st.integers(0, 3)) == 0:
            steps.append(("members", draw(st.lists(_keys, min_size=1, max_size=4))))
            continue
        cols = _DIM + (("tier",) if draw(st.booleans()) else ())
        row = st.tuples(_keys, *[_SCD2_VALUES] * (len(cols) - 1))
        steps.append(("batch", cols, draw(st.lists(row, max_size=8))))
    return steps


_DIM = ("id", "name", "segment")
_SCD2_EXAMPLE = [
    # key 3 loads twice, so it has two current rows
    ("batch", _DIM, [(1, "a", None), (2, "b", "x"), (3, "a", "a"), (3, "a", "a")]),
    # key 1: (a, null) vs (null, a) hash alike; key 2 repeats: one UPDATE,
    # one NO CHANGE pair; key 3 ABSENT; key 4 INSERT; tier evolves in
    ("batch", (*_DIM, "tier"),
     [(1, None, "a", None), (2, "b", "y", "a"), (2, "b", "x", None), (4, "a", None, "b")]),
    ("members", [3, 5, 5]),
    ("batch", _DIM, [(5, "a", "b"), (3, "a", "a"), (3, "b", None)]),
]


@settings(_slow, max_examples=4)  # each example runs up to four upserts
@given(
    steps=_scd2_steps(),
    on_delete=st.sampled_from(["ignore", "expire"]),
)
@example(steps=_SCD2_EXAMPLE, on_delete="ignore")
@example(steps=_SCD2_EXAMPLE, on_delete="expire")
@example(  # an empty batch expires every key
    steps=[("batch", _DIM, [(0, "a", "a")]), ("batch", _DIM, [])],
    on_delete="expire",
)
@example(  # an empty first load commits an empty table; key 1 joins, then versions
    steps=[("batch", _DIM, []), ("members", [1]), ("batch", _DIM, [(1, "a", "a")])],
    on_delete="ignore",
)
def test_scd2_upsert_matches_reference(spark, tmp_path_factory, steps, on_delete):
    now = [dt.datetime(2024, 1, 1)]
    dim = SCD2Table(
        spark, str(tmp_path_factory.mktemp("scd2") / "dim"), "id",
        clock=lambda: now[0], on_delete=on_delete,
    )
    ref = _RefDim(on_delete == "expire")
    for i, step in enumerate(steps):
        now[0] = dt.datetime(2024, 1, 1) + dt.timedelta(days=i)
        if step[0] == "members":
            keys = spark.createDataFrame([(k,) for k in step[1]], "id bigint")
            if ref.rows is None:
                with pytest.raises(ValueError, match="no initial load"):
                    dim.ensure_members(keys)
            else:
                assert dim.ensure_members(keys) == ref.members(step[1], now[0])
            continue
        _, cols, rows = step
        schema = ", ".join(f"{c} {'bigint' if c == 'id' else 'string'}" for c in cols)
        batch = spark.createDataFrame(rows, schema)
        assert dim.upsert(batch) == ref.upsert(cols, rows, now[0])
    assert table_exists(dim.path) == (ref.rows is not None)
    if ref.rows is None:
        return
    hist = dim.history()
    names = sorted(hist.columns)
    assert set(names) == set(ref.cols) | {"hash", "is_current", "effective_date", "end_date"}
    got = sorted((tuple(r[c] for c in names) for r in hist.collect()), key=repr)
    want = sorted((tuple(r.get(c) for c in names) for r in ref.rows), key=repr)
    assert got == want


def test_scd2_upsert_job_count(spark, tmp_path):
    """One upsert is one cut of the classifying full-outer join (its
    counts ride the cut as observed metrics) plus the table write; a
    replay whose rows are all NO CHANGE stops after the cut. Classifying
    with a separate count job and re-joining the batch for the rewrite
    costs more jobs on both paths (12 and 6 here)."""
    schema = "id bigint, name string, segment string"
    dim = SCD2Table(spark, str(tmp_path / "dim"), "id", clock=lambda: dt.datetime(2024, 1, 1))
    dim.upsert(spark.createDataFrame([(i, f"n{i}", "A") for i in range(40)], schema))
    batch = spark.createDataFrame(
        [(i, f"n{i}", "B" if i % 5 == 0 else "A") for i in range(45)], schema
    )
    changing = count_jobs(spark, lambda: dim.upsert(batch))
    replay = count_jobs(spark, lambda: dim.upsert(batch))
    assert changing <= 4  # two AQE map stages + the cut, then the write
    assert replay <= 3


# ---------------------------------------------------------------------------
# Concurrent medallion stages (``functions.concurrent_map``) against the
# serial loop they replace: the same runs leave the same lake.
# ---------------------------------------------------------------------------

_cdc_batch = st.dictionaries(st.integers(0, 6), st.sampled_from("abc"), max_size=5)


@st.composite
def _cdc_runs(draw):
    """Per run, one landing batch (key → value, possibly empty) for each
    of 1-2 good tables; 2-3 runs."""
    n_tables = draw(st.integers(1, 2))
    batches = st.lists(_cdc_batch, min_size=n_tables, max_size=n_tables)
    return draw(st.lists(batches, min_size=2, max_size=3))


def _run_medallion(spark, lake, landing, runs):
    """Run ``MedallionPipeline`` once per landing state in ``runs`` (a
    callable that writes run i's landing files), with a table whose
    business key is missing (fails every run) and a mart that fails
    once under ``retry=1``; return everything the runs left."""
    from azure_sales_etl_pipeline_spark.functions import local_df
    from azure_sales_etl_pipeline_spark.operators.writer import read_table
    from azure_sales_etl_pipeline_spark.pipeline import MedallionPipeline, TableConfig

    failed = []

    def current(sp, catalog, table):
        path = catalog.path("silver", table)
        if not table_exists(path):
            return local_df(sp, [], "id int, v string")
        return read_table(sp, path).where("is_current").select("id", "v")

    def by_value(sp, catalog):
        return current(sp, catalog, "t0").groupBy("v").count()

    def flaky(sp, catalog):
        if not failed:
            failed.append(True)
            raise RuntimeError("transient")
        return current(sp, catalog, "t1")

    clock = [dt.datetime(2024, 1, 1)]
    tables = [TableConfig("bad", "missing_key"), TableConfig("t0", "id"), TableConfig("t1", "id")]
    pipe = MedallionPipeline(
        spark, str(lake), tables, clock=lambda: clock[0],
        gold_marts={"by_value": by_value, "flaky": flaky},
        retry=1, sleep=lambda s: None,
    )

    def clean(error):
        return None if error is None else error.replace(str(lake), "<lake>")

    results = []
    for i, write_landing in enumerate(runs):
        clock[0] = dt.datetime(2024, 1, 1) + dt.timedelta(days=i)
        write_landing()
        results.append([(r.table, r.ok, r.stats, clean(r.error)) for r in pipe.run(str(landing))])

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    lake_rows = {
        (layer, name): rows(read_table(spark, pipe.catalog.path(layer, name)))
        for layer, names in (("silver", ("t0", "t1")), ("gold", ("by_value", "flaky")))
        for name in names
        if table_exists(pipe.catalog.path(layer, name))
    }
    log = [(*r[:-1], clean(r[-1])) for r in rows(pipe.run_log())]
    return results, lake_rows, {t.name: pipe.watermarks.get(t.name) for t in tables}, log


@settings(_slow, max_examples=3)  # each example runs 2-3 pipeline runs twice
@given(runs=_cdc_runs())
@example(runs=[[{1: "a", 2: "b"}, {3: "c"}], [{1: "b", 4: "a"}, {}], [{1: "b", 4: "a"}, {3: "a"}]])
def test_concurrent_stages_match_the_serial_loop(spark, tmp_path_factory, runs):
    """Serial (``concurrent_map`` replaced by the builtin ``map``) and
    concurrent runs over the same landing batches leave identical
    results (order, ``ok``, stats, errors), silver history, gold,
    watermarks and run log — including a table that fails every run
    and a mart that fails once and is retried."""
    from azure_sales_etl_pipeline_spark import pipeline
    from azure_sales_etl_pipeline_spark.sources import ingest

    root = tmp_path_factory.mktemp("concurrent")
    landing = root / "landing"

    def write_run(batches):
        def write():
            for name, batch in [("bad", {1: "x"}), *((f"t{i}", b) for i, b in enumerate(batches))]:
                (landing / name).mkdir(parents=True, exist_ok=True)
                body = "".join(f"{k},{v}\n" for k, v in sorted(batch.items()))
                (landing / name / "b.csv").write_text("id,v\n" + body)

        return write

    writers = [write_run(batches) for batches in runs]
    concurrent = _run_medallion(spark, root / "lake_concurrent", landing, writers)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(pipeline, "concurrent_map", map)
        m.setattr(ingest, "concurrent_map", map)
        serial = _run_medallion(spark, root / "lake_serial", landing, writers)
    assert concurrent == serial
    results = concurrent[0]
    assert [t for t, *_ in results[0]] == ["__ingest__", "bad", "t0", "t1", "gold:by_value", "gold:flaky"]
    assert all(not ok for r in results for t, ok, *_ in r if t == "bad")
    assert results[0][-1][1:3] == (True, {"rows": results[0][-1][2]["rows"], "attempts": 2})


@settings(_slow, max_examples=3)  # each example runs 3-4 pipeline runs twice
@given(runs=_cdc_runs())
@example(runs=[[{1: "a", 2: "b"}, {3: "c"}], [{1: "b", 4: "a"}, {}]])
def test_gold_left_alone_matches_a_full_refresh(spark, tmp_path_factory, runs):
    """Random CDC runs, then a replay of the last landing, with a table
    that fails every run: after every run each gold mart equals a fresh
    evaluation of its builder, and results, silver, gold, watermarks and
    the run log equal those of runs that refresh every mart and cut
    every window, idle tables' included. The replay leaves the marts
    over silver files alone."""
    from azure_sales_etl_pipeline_spark import pipeline
    from azure_sales_etl_pipeline_spark.operators.watermark import WatermarkStore
    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_table,
        snapshot_current_version,
    )

    root = tmp_path_factory.mktemp("gold_skip")
    landing = root / "landing"

    def write_run(batches):
        def write():
            for name, batch in [("bad", {1: "x"}), *((f"t{i}", b) for i, b in enumerate(batches))]:
                (landing / name).mkdir(parents=True, exist_ok=True)
                body = "".join(f"{k},{v}\n" for k, v in sorted(batch.items()))
                (landing / name / "b.csv").write_text("id,v\n" + body)

        return write

    writers = [write_run(batches) for batches in runs] + [lambda: None]  # the replay
    real_run = pipeline.MedallionPipeline.run
    left_alone = []

    def checked_run(pipe, landing_root):
        def versions():
            return {m: snapshot_current_version(pipe.catalog.path("gold", m)) for m in pipe.gold_marts}

        before = versions()
        out = real_run(pipe, landing_root)
        left_alone.append({m for m, v in versions().items() if v is not None and v == before[m]})
        for name, build in pipe.gold_marts.items():
            path = pipe.catalog.path("gold", name)
            if table_exists(path):
                fresh = sorted(map(tuple, build(spark, pipe.catalog).collect()), key=repr)
                assert sorted(map(tuple, read_table(spark, path).collect()), key=repr) == fresh
        return out

    with pytest.MonkeyPatch.context() as m:
        m.setattr(pipeline.MedallionPipeline, "run", checked_run)
        skipping = _run_medallion(spark, root / "lake_skip", landing, writers)
        skipped = left_alone[:]
        m.setattr(pipeline, "_input_fingerprint", lambda df: None)
        m.setattr(WatermarkStore, "inputs", lambda self, table: None)
        refreshing = _run_medallion(spark, root / "lake_full", landing, writers)
    assert skipping == refreshing
    assert not any(left_alone[len(writers):])  # the refreshing side rewrote every run
    if any(batches[0] for batches in runs):  # by_value reads t0's silver files
        # the replay changes no silver row, so it leaves by_value alone
        assert "by_value" in skipped[-1]


# Jobs per cold run (memos evicted, noop write) at sf0.001 under this
# session's 4 shuffle partitions: the counts before the round loops
# moved onto ``operators.rounds.iterate``. A loop consumer may only
# get cheaper.
_LOOP_CONSUMER_JOBS = {
    "dedup_clusters": 35,
    "cluster_labels_two_batch": 64,
    "golden_part_records": 27,
    "supplier_copurchase_pagerank": 45,
    "label_propagation_communities": 24,
    "k_core_vertices": 16,
    "copurchase_bfs_hops": 23,
    "bpe_merge_steps": 19,
    "mmr_rerank_topk": 52,
}


@pytest.mark.parametrize("name", sorted(_LOOP_CONSUMER_JOBS))
def test_loop_consumer_job_count(spark, name):
    """A warm run comes first, so the pin counts the query itself and
    not what earlier tests happened to leave warm (run alone, the first
    call also pays one-off session work); the eviction after it makes
    the counted run pay every memo build."""
    from azure_sales_etl_pipeline_spark import memo

    run = _query_run(spark, name)
    run()
    memo.evict_all()
    jobs = count_jobs(spark, run)
    assert jobs <= _LOOP_CONSUMER_JOBS[name], f"{name}: {jobs} jobs"


def _query_run(spark, name):
    """A registry query plus its noop write in one scope, as bench runs it."""
    from azure_sales_etl_pipeline_spark.operators import rounds
    from azure_sales_etl_pipeline_spark.plans import registry

    fn = registry()[0][name]

    def run():
        with rounds.scope():
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    return run


def test_count_jobs_counts_stream_micro_batches(spark):
    """A stream runs its micro-batch on its own thread under its own job
    group; the job counter still counts that job (counting the caller's
    job group gives 2)."""
    run = _query_run(spark, "stream_tumbling_counts")
    run()
    assert count_jobs(spark, run) == 3


# ---------------------------------------------------------------------------
# ``operators.rounds.iterate`` on a toy counter:
# round r holds x = r, and the probe reads "x reached the target".
# ---------------------------------------------------------------------------


def _count_to(target):
    def count_up(state, _rnd, obs):
        return state.select((F.col("x") + 1).alias("x")).observe(
            obs, F.count(F.when(F.col("x") >= target, 1)).alias("done")
        )

    return count_up


@_slow
@given(
    target=st.integers(1, 6),
    max_rounds=st.integers(1, 5),
    cut_every=st.sampled_from([1, 2]),
    on_bound=st.sampled_from(["raise", "stop"]),
)
@example(target=6, max_rounds=5, cut_every=1, on_bound="raise")
@example(target=6, max_rounds=5, cut_every=1, on_bound="stop")
@example(target=3, max_rounds=5, cut_every=2, on_bound="raise")
@example(target=6, max_rounds=5, cut_every=2, on_bound="stop")
def test_iterate_bound_and_cut_cadence(spark, target, max_rounds, cut_every, on_bound):
    """Only every ``cut_every``-th round materializes (one job each) and
    reads its probe; the loop stops at the first such round that
    converged. Past the bound, "raise" raises and "stop" returns the
    bound-round state."""
    cut_rounds = [r for r in range(1, max_rounds + 1) if r % cut_every == 0]
    settled = next((r for r in cut_rounds if r >= target), None)

    def run():
        seed = spark.range(1).select(F.lit(0).cast("bigint").alias("x"))
        return iterate(
            seed,
            _count_to(target),
            max_rounds=max_rounds,
            converged=lambda probe: probe["done"] > 0,
            on_bound=on_bound,
            cut_every=cut_every,
        )

    if settled is None and on_bound == "raise":
        with pytest.raises(RuntimeError, match="did not converge"):
            run()
        return
    out = []
    jobs = count_jobs(spark, lambda: out.append(run()))
    last = settled or max_rounds
    assert out[0].first()["x"] == last
    assert jobs == sum(r <= last for r in cut_rounds)


def test_iterate_raises_on_null_probe(spark):
    """``sum`` over zero rows is null; ``iterate`` must not read it as
    converged (a ``None or 0`` would)."""

    def empty(state, _rnd, obs):
        return state.where(F.col("x") < 0).observe(obs, F.sum("x").alias("changed"))

    seed = spark.range(1).select(F.lit(0).cast("bigint").alias("x"))
    with pytest.raises(RuntimeError, match="null probe"):
        iterate(seed, empty, max_rounds=3, converged=lambda probe: not probe["changed"])


def test_round_loops_go_through_iterate():
    """The lineage-cut policy lives in ``operators.rounds`` alone: no
    module elsewhere in the package calls ``.localCheckpoint(`` or
    ``.checkpoint(`` (every eager cut is ``rounds.cut``, so a scope can
    own it), no function takes a cut policy as a ``cut`` or
    ``checkpoint_dir`` parameter, and the memo has no second way to
    free a cut."""
    import ast
    from pathlib import Path

    import azure_sales_etl_pipeline_spark as pkg
    from azure_sales_etl_pipeline_spark import memo

    assert not hasattr(memo.Releases, "frame") and not hasattr(memo, "drop_checkpoint")

    root = Path(pkg.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
                if params & {"cut", "checkpoint_dir"}:
                    offenders.append(f"{rel}:{node.lineno} parameter")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
                and rel != "operators/rounds.py"
            ):
                offenders.append(f"{rel}:{node.lineno} {node.func.attr}")
    assert offenders == []


def test_scd2_writes_only_through_overwrite_table():
    """``SCD2Table`` has one storage layout: ``operators/scd2.py`` never
    reaches a ``DataFrameWriter`` (no ``.write``, no writer
    ``partitionBy``) and writes through ``overwrite_table``, imported by
    name so a tracer can patch it there. Dynamic partition overwrite is
    set per write by ``write_partitioned`` alone, never session-wide."""
    import ast
    from pathlib import Path

    import azure_sales_etl_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    tree = ast.parse((root / "operators/scd2.py").read_text())
    attrs = [n for n in ast.walk(tree) if isinstance(n, ast.Attribute)]
    assert not [n.lineno for n in attrs if n.attr in ("write", "writeTo", "writeStream")]
    assert {ast.unparse(n) for n in attrs if n.attr == "partitionBy"} <= {"Window.partitionBy"}
    writer_names = {
        a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and n.module == "writer"
        for a in n.names
    }
    calls = {ast.unparse(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    assert "overwrite_table" in writer_names & calls
    holders = {
        f.relative_to(root).as_posix()
        for f in root.rglob("*.py")
        if "partitionOverwriteMode" in f.read_text()
    }
    assert holders == {"operators/writer.py"}


def test_threads_are_built_only_by_concurrent_map():
    """The package has one thread pool: ``ThreadPoolExecutor``,
    ``threading.Thread`` and ``InheritableThread`` are built only inside
    ``functions.concurrent_map``, with one worker per item (no size from
    config or the environment). Any other concurrency reuses it, and so
    keeps Spark local-property inheritance and the scope hand-off."""
    import ast
    from pathlib import Path

    import azure_sales_etl_pipeline_spark as pkg

    repo = Path(pkg.__file__).parent.parent
    files = [*Path(pkg.__file__).parent.rglob("*.py"), *(repo / "scripts").rglob("*.py"),
             repo / "bench.py", repo / "__spark_entry__.py"]
    builders = ("ThreadPoolExecutor", "Thread", "InheritableThread")
    built = []
    for f in files:
        tree = ast.parse(f.read_text())
        parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and ast.unparse(node.func).split(".")[-1] in builders:
                fn = node
                while fn in parents and not isinstance(fn, ast.FunctionDef):
                    fn = parents[fn]
                where = getattr(fn, "name", "<module>")
                built.append((f.relative_to(repo).as_posix(), where, ast.unparse(node)))
    assert [(f, fn) for f, fn, _ in built] == [
        ("azure_sales_etl_pipeline_spark/functions/__init__.py", "concurrent_map")
    ]
    assert built[0][2] == "ThreadPoolExecutor(max_workers=len(items))"


# ---------------------------------------------------------------------------
# The one integer-Lloyd trainer (``_train_codebooks``) against a numpy
# reference: m = 1 (IVF) and m = _PQ_M (PQ), duplicates, n < k.
# ---------------------------------------------------------------------------


def _ref_lloyd(ids, vecs, m, k, iters):
    """Strided seeds (every stride-th vec_id in id order, at most k),
    exact squared-L2 with first-index argmin on ties, truncate-toward-
    zero integer means; an empty cluster keeps its previous centroid."""
    order = sorted(range(len(ids)), key=ids.__getitem__)
    stride = max(len(ids) // k, 1)
    seeds = [vecs[i] for i in order if ids[i] % stride == 0][:k]
    X = np.asarray(vecs, dtype=np.int64).reshape(len(vecs), m, -1)
    books = np.asarray(seeds, dtype=np.int64).reshape(len(seeds), m, -1)
    books = books.transpose(1, 0, 2).copy()
    for _ in range(iters):
        new = books.copy()
        for s in range(m):
            d = ((X[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(len(seeds)):
                members = X[a == c, s]
                n = len(members)
                if n:
                    new[s, c] = [t // n if t >= 0 else -(-t // n) for t in members.sum(axis=0)]
        books = new
    return books.tolist()


_LLOYD_SHAPES = {1: (3, _IVF_K, _IVF_ITERS), _PQ_M: (_PQ_M * _PQ_SUBDIM, _PQ_K, _PQ_ITERS)}


def _lloyd_frame(spark, ids, vecs):
    return spark.createDataFrame(list(zip(ids, vecs)), "vec_id bigint, q array<bigint>")


@pytest.mark.parametrize("m", sorted(_LLOYD_SHAPES))
@_slow
@given(data=st.data(), n=st.integers(min_value=1, max_value=40))
def test_train_codebooks_matches_reference_lloyd(spark, m, data, n):
    dim, k, iters = _LLOYD_SHAPES[m]
    # a few distinct small-coordinate vectors, drawn with repetition:
    # duplicate vectors and tied distances are the norm, not the edge
    vec = st.lists(st.integers(-3, 3), min_size=dim, max_size=dim)
    pool = data.draw(st.lists(vec, min_size=1, max_size=6))
    vecs = data.draw(st.lists(st.sampled_from(pool), min_size=n, max_size=n))
    # sparse ids: a stride can then match fewer than k (or n) seed rows
    ids = data.draw(st.lists(st.integers(0, 3 * n), min_size=n, max_size=n, unique=True))
    got = _train_codebooks(_lloyd_frame(spark, ids, vecs), "q", m)
    assert got == _ref_lloyd(ids, vecs, m, k, iters)


@pytest.mark.parametrize("m", sorted(_LLOYD_SHAPES))
def test_train_codebooks_small_corpus_trains_seeds_found(spark, m):
    """Ten vectors yield ten seeds, fewer than k = 16: the trainer
    keeps exactly those (the PQ trainer once indexed past them and
    raised IndexError)."""
    dim, k, iters = _LLOYD_SHAPES[m]
    ids = list(range(10))
    vecs = [[(7 * i + 3 * j) % 11 - 5 for j in range(dim)] for i in ids]
    got = _train_codebooks(_lloyd_frame(spark, ids, vecs), "q", m)
    assert [len(book) for book in got] == [10] * m
    assert got == _ref_lloyd(ids, vecs, m, k, iters)


# ---------------------------------------------------------------------------
# Schema-carrying commits: ``append_evolve`` pins an evolving table's
# schema in the version pointer, and ``read_table`` serves it without
# footer inference. The reference is the footer-merging read of the same
# files.
# ---------------------------------------------------------------------------

_EVOLVE_TYPES = {
    "c_bigint": ("bigint", st.integers(-(2**40), 2**40)),
    "c_string": ("string", st.text(alphabet="ab ,z", max_size=4)),
    "c_decimal": (
        "decimal(12,2)",
        st.decimals(min_value=-(10**6), max_value=10**6, places=2),
    ),
    "c_ts": ("timestamp", st.datetimes(min_value=dt.datetime(1990, 1, 1))),
    "c_ntz": ("timestamp_ntz", st.datetimes(min_value=dt.datetime(1990, 1, 1))),
    "c_array": ("array<bigint>", st.lists(st.none() | st.integers(-9, 9), max_size=3)),
    "c_struct": (
        "struct<a:bigint,b:string>",
        st.tuples(st.none() | st.integers(-9, 9), st.none() | st.text("xy", max_size=2)),
    ),
}


@st.composite
def _evolving_appends(draw):
    """1-4 batches, each a random subset of the column pool in random
    order, with random nullability; a column keeps its type throughout."""
    batches = []
    for _ in range(draw(st.integers(1, 4))):
        cols = draw(st.lists(st.sampled_from(sorted(_EVOLVE_TYPES)), min_size=1, max_size=4,
                             unique=True))
        nullable = [draw(st.booleans()) for _ in cols]
        values = [
            _EVOLVE_TYPES[c][1] if not n else st.none() | _EVOLVE_TYPES[c][1]
            for c, n in zip(cols, nullable)
        ]
        rows = draw(st.lists(st.tuples(*values), min_size=1, max_size=3))
        batches.append((cols, nullable, rows))
    return batches


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(batches=_evolving_appends())
def test_append_evolve_pins_schema_like_merge_read(spark, tmp_path_factory, batches):
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    from azure_sales_etl_pipeline_spark.operators.writer import (
        _table_dir,
        append_evolve,
        read_table,
    )

    path = str(tmp_path_factory.mktemp("evolve") / "t")
    arrivals: list[str] = []
    for cols, nullable, rows in batches:
        schema = StructType([
            StructField(c, _parse_datatype_string(_EVOLVE_TYPES[c][0]), n)
            for c, n in zip(cols, nullable)
        ])
        append_evolve(spark, spark.createDataFrame(rows, schema), path)
        arrivals += [c for c in cols if c not in arrivals]

    got = read_table(spark, path)
    merged = spark.read.option("mergeSchema", "true").parquet(str(_table_dir(path)))
    assert got.columns == arrivals
    assert sorted(got.schema, key=lambda f: f.name) == sorted(merged.schema, key=lambda f: f.name)
    assert {f.name: f.dataType.simpleString() for f in got.schema} == {
        c: _EVOLVE_TYPES[c][0] for c in arrivals
    }

    def rows(df):
        return sorted(repr(r) for r in df.select(*sorted(arrivals)).collect())

    assert rows(got) == rows(merged)
    assert len(rows(got)) == sum(len(r) for *_, r in batches)


def test_pointer_table_reads_fire_no_jobs(spark, tmp_path):
    """The pointer serves the schema, so resolving a pointer table's
    read, its schema and a watermark fires no Spark job."""
    from azure_sales_etl_pipeline_spark.operators.watermark import WatermarkStore
    from azure_sales_etl_pipeline_spark.operators.writer import (
        append_evolve,
        overwrite_table,
        read_table,
        table_schema,
    )

    snap, app = str(tmp_path / "snap"), str(tmp_path / "app")
    overwrite_table(spark.range(3), snap)
    append_evolve(spark, spark.createDataFrame([(1,)], "k bigint"), app)
    append_evolve(spark, spark.createDataFrame([("x", 2)], "v string, k bigint"), app)
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.set("t", dt.datetime(2024, 5, 6, 7, 8, 9, 123456))
    for path in (snap, app):
        assert count_jobs(
            spark, lambda: (read_table(spark, path).schema, table_schema(spark, path))
        ) == 0, path
    got = []
    assert count_jobs(spark, lambda: got.append(store.get("t"))) == 0
    assert got == [dt.datetime(2024, 5, 6, 7, 8, 9, 123456)]
    assert read_table(spark, app).columns == ["k", "v"]


def test_pointer_without_schema_reads_through_fallback(spark, tmp_path):
    """A pointer committed before it carried a schema (or a watermark
    value) still reads through footer inference; the next evolving
    append commits the schema into it."""
    import json
    from pathlib import Path

    from azure_sales_etl_pipeline_spark.operators.watermark import WatermarkStore
    from azure_sales_etl_pipeline_spark.operators.writer import (
        append_evolve,
        overwrite_table,
        read_commit_meta,
        read_table,
        table_schema,
    )

    def strip(path, *keys):
        f = Path(path) / "_current_version.json"
        ptr = json.loads(f.read_text())
        f.write_text(json.dumps({k: v for k, v in ptr.items() if k not in keys}))

    path = str(tmp_path / "t")
    overwrite_table(spark.createDataFrame([(1, "a")], "k bigint, v string"), path,
                    commit_meta={"m": 1})
    pinned = read_table(spark, path)
    want = (pinned.schema, sorted(pinned.collect()))
    strip(path, "schema")
    got = read_table(spark, path)
    assert (got.schema, sorted(got.collect())) == want
    assert table_schema(spark, path) == want[0] and read_commit_meta(path) == {"m": 1}

    append_evolve(spark, spark.createDataFrame([(2, 3.5)], "k bigint, w double"), path)
    assert count_jobs(spark, lambda: read_table(spark, path).schema) == 0
    assert [tuple(r) for r in read_table(spark, path).orderBy("k").collect()] == [
        (1, "a", None), (2, None, 3.5)
    ]

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    overwrite_table(spark.createDataFrame([("t", dt.datetime(2024, 1, 2))],
                                          "table_name string, watermark timestamp"),
                    str(store._path("t")))
    assert store.get("t") == dt.datetime(2024, 1, 2)
