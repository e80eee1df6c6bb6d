"""Recall tests for the probabilistic operators (MinHash-LSH, SRP-LSH)
— the ones the driver can only rows-check (no SQL oracle)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from azure_sales_etl_pipeline_spark.plans.dedup import (
    minhash_lsh_candidates,
    minhash_signature,
)
from azure_sales_etl_pipeline_spark.plans.similarity import ann_topk_bruteforce, ann_topk_lsh
from tests.conftest import SF_DIR


def test_minhash_lsh_finds_planted_duplicates(spark, tmp_path):
    """Plant heavy near-duplicates in a synthetic documents table; the
    banded LSH must recover >=80% of truly-similar pairs (Jaccard>=0.7)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        base = [rng.choice(vocab) for _ in range(40)]
        rows.append((2 * i, " ".join(base)))
        near = list(base)
        near[rng.randrange(40)] = rng.choice(vocab)  # one-token edit → high Jaccard
        rows.append((2 * i + 1, " ".join(near)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "documents.parquet"
    docs.write.parquet(str(out))

    found = minhash_lsh_candidates(spark, str(tmp_path))
    pairs = {(r["doc_a"], r["doc_b"]) for r in found.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(60)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.8, f"LSH recall {recall:.2f} on planted near-dups"


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    sig = minhash_signature(df).select("signature").first()[0]
    assert len(sig) == 16
    assert all(isinstance(v, int) for v in sig)


def test_lsh_topk_recall_vs_bruteforce(spark):
    """SRP-bucketed ANN must recover a reasonable share of the exact
    top-10 (same bucket ⇒ high cosine is likely; 4 bits ⇒ recall well
    above chance). Chance level is ~1/16; assert ≥0.3 overlap."""
    exact = ann_topk_bruteforce(spark, SF_DIR).collect()
    approx = ann_topk_lsh(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for r in approx:
        total += 1
        if r["vec_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    assert total > 0
    assert hits / total >= 0.3, f"LSH ANN precision vs exact: {hits}/{total}"


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF (2 Lloyd rounds, 8/16 probes) must recover ≥0.8 of the exact
    top-10 — the ann_recall_check gate's floor, asserted here too so a
    quality regression fails fast in pytest, not only at the driver."""
    from azure_sales_etl_pipeline_spark.plans.similarity import ann_topk_ivf

    exact = ann_topk_bruteforce(spark, SF_DIR).collect()
    approx = ann_topk_ivf(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for r in approx:
        total += 1
        if r["vec_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    assert total > 0
    assert hits / total >= 0.8, f"IVF ANN precision vs exact: {hits}/{total}"


def test_pq_topk_recall_vs_bruteforce(spark):
    """PQ (32 subspaces × 16 codes, ADC shortlist-50, exact re-rank)
    must recover ≥0.8 of the exact top-10 — measured 0.98 at
    sf0.001/sf0.01; the gate guards codebook-training or shortlist
    regressions. Re-ranked sims must also EQUAL the brute-force sims
    for every hit (the refine stage is exact, not approximate)."""
    from azure_sales_etl_pipeline_spark.plans.similarity import ann_topk_pq

    exact = ann_topk_bruteforce(spark, SF_DIR).collect()
    approx = ann_topk_pq(spark, SF_DIR).collect()
    exact_sims = {(r["query_id"], r["vec_id"]): r["sim"] for r in exact}
    hits = total = 0
    for r in approx:
        total += 1
        key = (r["query_id"], r["vec_id"])
        if key in exact_sims:
            hits += 1
            assert r["sim"] == exact_sims[key], f"re-rank sim drift at {key}"
    assert total > 0
    assert hits / total >= 0.8, f"PQ ANN precision vs exact: {hits}/{total}"


def test_ivfpq_topk_recall_vs_bruteforce(spark):
    """IVF-PQ (coarse pruning + residual-PQ ADC + shortlist re-rank)
    must recover ≥0.75 of the exact top-10 — measured 0.84-0.90 across
    SFs; the ceiling is the IVF probe stage (PQ's shortlist is nearly
    lossless after the exact re-rank), so this gate sits just under
    the IVF gate."""
    from azure_sales_etl_pipeline_spark.plans.similarity import ann_topk_ivfpq

    exact = ann_topk_bruteforce(spark, SF_DIR).collect()
    approx = ann_topk_ivfpq(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for r in approx:
        total += 1
        if r["vec_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    assert total > 0
    assert hits / total >= 0.75, f"IVF-PQ precision vs exact: {hits}/{total}"


def test_hybrid_rrf_fuses_both_legs(spark):
    """RRF invariants: every fused score recomputes exactly from its
    rank columns (10⁶ div (60+rank) per present leg); each query
    returns a full top-10; and the fusion genuinely uses BOTH legs —
    across the result, some rows carry a dense rank and some a sparse
    rank (a fusion that degenerates to one retriever is a bug even if
    every row is internally consistent)."""
    from azure_sales_etl_pipeline_spark.plans.similarity import hybrid_search_rrf

    rows = hybrid_search_rrf(spark, SF_DIR).collect()
    assert len(rows) == 50
    dense_seen = sparse_seen = 0
    for r in rows:
        expect = 0
        if r["dense_rank"] is not None:
            expect += 1_000_000 // (60 + r["dense_rank"])
            dense_seen += 1
        if r["sparse_rank"] is not None:
            expect += 1_000_000 // (60 + r["sparse_rank"])
            sparse_seen += 1
        assert r["rrf_micro"] == expect, f"rrf mismatch at {r}"
    assert dense_seen > 0 and sparse_seen > 0


def test_exact_dedup_keeps_lowest_id(spark, tmp_path):
    docs = spark.createDataFrame(
        [(10, "same  Text"), (3, "same text"), (5, "other")], "doc_id long, text string"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from azure_sales_etl_pipeline_spark.plans.dedup import exact_dedup

    out = {r["keeper_doc_id"]: r["dup_count"] for r in exact_dedup(spark, str(tmp_path)).collect()}
    # case/whitespace-normalized: doc 3 and 10 collapse, keeper is 3
    assert out == {3: 2, 5: 1}


def test_embedding_gram_matches_numpy_and_is_partition_invariant(spark):
    """The distributed Gram accumulation must equal a one-shot numpy
    replay (same floor-quantized per-product arithmetic) and be
    invariant to how the corpus is partitioned — the property the
    map-side partial / final-sum split must preserve."""
    import numpy as np

    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _GRAM_SCALE,
        embedding_gram,
    )

    sf = "/root/testdata/sf0.001"
    rows = embedding_gram(spark, sf).collect()
    vecs = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )
    n, d = vecs.shape
    want = np.floor(
        np.einsum("ni,nj->nij", vecs, vecs) * _GRAM_SCALE
    ).astype(np.int64).sum(axis=0)
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        assert r["n_vecs"] == n
        assert r["gram_e6"] == want[r["i"], r["j"]], (r["i"], r["j"])
        assert r["i"] <= r["j"]  # upper triangle only
    # diagonal entries are sums of squares: strictly positive
    assert all(r["gram_e6"] > 0 for r in rows if r["i"] == r["j"])


def test_pca_power_iteration_check_passes_and_rejects_isotropy(spark):
    """The gate must pass on the real corpus, and its variance check
    must be a real discriminator: the permille threshold sits strictly
    above the trace/d floor that ANY positive-semidefinite Gram matrix
    attains, so a perfectly isotropic spectrum could not pass."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _GRAM_DIM,
        _PCA_EXPLAINED_MIN_PERMILLE,
        pca_power_iteration_check,
    )

    [row] = pca_power_iteration_check(spark, "/root/testdata/sf0.001").collect()
    assert row["variance_ok"] and row["residual_ok"]
    assert row["n_vecs"] == 500 and row["trace_e6"] > 0
    # isotropy floor: an identity-like spectrum gives exactly 1000/d
    assert _PCA_EXPLAINED_MIN_PERMILLE > 1000 // _GRAM_DIM


def test_simhash_banding_is_exhaustive_for_hamming_le_3(spark, tmp_path):
    """The pigeonhole claim behind simhash_hamming_pairs: with 4
    disjoint 16-bit bands and threshold 3, the banded join must return
    EXACTLY the brute-force hamming<=3 pair set — perfect recall (an
    untouched band always exists) AND no extras (every candidate is
    Hamming-verified). Planted clones + one-token edits guarantee the
    truth set is non-empty."""
    import itertools
    import random

    from azure_sales_etl_pipeline_spark.plans.dedup import (
        _SIMHASH_MAX_HAMMING,
        _simhash_bits,
        simhash_hamming_pairs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(30)]
        rows.append((3 * i, " ".join(base)))
        rows.append((3 * i + 1, " ".join(base)))  # exact clone → hamming 0
        near = list(base)
        near[rng.randrange(30)] = rng.choice(vocab)
        rows.append((3 * i + 2, " ".join(near)))  # near clone → small hamming
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_hamming_pairs(spark, str(tmp_path)).collect()
    }
    bits = {
        r["doc_id"]: r["simhash_bits"]
        for r in _simhash_bits(spark.read.parquet(str(tmp_path / "documents.parquet"))).collect()
    }
    truth = {}
    for a, b in itertools.combinations(sorted(bits), 2):
        h = sum(x != y for x, y in zip(bits[a], bits[b]))
        if h <= _SIMHASH_MAX_HAMMING:
            truth[(a, b)] = h
    assert truth, "planted clones must produce a non-empty truth set"
    assert got == truth


def test_simhash_hot_bucket_split_keeps_recall_and_bounds_candidates(spark):
    """The second-level bucket split behind simhash_hamming_pairs:
    templated docs collapse into one hot band bucket, and a flat
    in-bucket self-join there is O(bucket²). Plant a hot bucket — many
    signatures sharing band 0's 16 bits but spread across the other 48
    — plus a few true near-dup pairs, and assert:

    1. recall stays PERFECT (candidates ⊇ every brute-force hamming≤3
       pair) — the pigeonhole argument survives the split;
    2. the candidate count is far below the flat bucket²/2 join —
       the split actually restrains the hot bucket.
    """
    import itertools
    import random

    from azure_sales_etl_pipeline_spark.plans.dedup import (
        _SIMHASH_MAX_HAMMING,
        _simhash_candidates,
    )

    rng = random.Random(23)
    shared_band = "1010110011010011"  # all docs share band 0 → one hot bucket
    sigs = {}
    n_hot = 200
    for i in range(n_hot):
        rest = "".join(rng.choice("01") for _ in range(48))
        sigs[i] = shared_band + rest
    # plant true near-dups: clone + flip <=3 bits inside the rest
    for j, base in enumerate(range(0, 40, 10)):
        clone = list(sigs[base])
        for pos in rng.sample(range(16, 64), j):  # j = 0..3 flipped bits
            clone[pos] = "1" if clone[pos] == "0" else "0"
        sigs[n_hot + j] = "".join(clone)

    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if sum(x != y for x, y in zip(sigs[a], sigs[b])) <= _SIMHASH_MAX_HAMMING
    }
    assert len(truth) >= 4, "planted flips must land in the truth set"

    df = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "doc_id long, simhash_bits string"
    )
    cap = 64
    cand = _simhash_candidates(df, bucket_cap=cap).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand}
    assert truth <= pairs, "split lost qualifying pairs — recall hole"
    n = len(sigs)
    flat_join = n * (n - 1) // 2  # what the un-split hot bucket would verify
    assert len(pairs) < flat_join // 4, (
        f"{len(pairs)} candidates vs flat {flat_join} — split not effective"
    )


def test_semantic_dedup_drops_planted_clones(spark, tmp_path):
    """Plant exact-duplicate embedding vectors among random ones: each
    clone must be reported dropped with its ORIGINAL (smallest vec_id)
    as exemplar and the int8 self-dot as similarity; the random
    background (pairwise cosine well under the threshold) must survive."""
    import random

    from azure_sales_etl_pipeline_spark.plans.similarity import semantic_dedup

    rng = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)], "bg"))
    # clones of vectors 3 and 17 (identical direction => int8 dot ~127^2)
    rows.append((100, [float(x) for x in rows[3][1]], "dup"))
    rows.append((101, [float(x) for x in rows[17][1]], "dup"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r["vec_id"]: r for r in semantic_dedup(spark, str(tmp_path)).collect()}
    assert 100 in out and out[100]["exemplar_id"] == 3
    assert 101 in out and out[101]["exemplar_id"] == 17
    # identical direction: int8 dot is the clone's squared quantized norm,
    # far above the threshold
    assert out[100]["dot_q_exemplar"] > 15000
    # 64-dim gaussian background: cosines concentrate near 0 (σ ≈ 1/√d),
    # but ε = 0.35 is only ~2.8σ, so the odd chance pair may cross it —
    # the clones must dominate, the background must stay rare
    background = set(out) - {100, 101}
    assert len(background) <= 3, f"background drop rate too high: {background}"


def test_filtered_topk_recall_vs_filtered_bruteforce(spark):
    """ann_topk_filtered (label predicate pushed into the IVF probe
    join, 12/16 probes) must recover >=0.8 of the EXACT same-label
    top-10 (brute force restricted to the query's label), and every
    returned row must satisfy the predicate — the selector is a join
    condition, so a violation would mean the probe join itself broke."""
    import duckdb

    from azure_sales_etl_pipeline_spark.plans.similarity import ann_topk_filtered

    approx = ann_topk_filtered(spark, SF_DIR).collect()
    exact = duckdb.sql(f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS vec, label
            FROM read_parquet('{SF_DIR}/embeddings.parquet')
        ),
        q AS (SELECT vec_id AS qid, vec AS qv, label AS ql
              FROM corpus WHERE vec_id < 5)
        SELECT qid, vec_id FROM (
            SELECT q.qid, c.vec_id,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                       list_dot_product(q.qv, c.vec)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.vec, c.vec))) DESC,
                       c.vec_id ASC) AS rn
            FROM q JOIN corpus c
              ON c.label = q.ql AND c.vec_id != q.qid)
        WHERE rn <= 10
    """).fetchall()
    exact_sets: dict[int, set[int]] = {}
    for qid, vid in exact:
        exact_sets.setdefault(qid, set()).add(vid)
    qlabels = dict(duckdb.sql(
        f"SELECT vec_id, label FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        " WHERE vec_id < 5"
    ).fetchall())
    hits = total = 0
    for r in approx:
        total += 1
        assert r["label"] == qlabels[r["query_id"]], "predicate violated"
        if r["vec_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    assert total > 0
    assert hits / total >= 0.8, f"filtered ANN precision vs exact: {hits}/{total}"


def test_mmr_rerank_diversifies_past_clones(spark, tmp_path):
    """MMR must demote near-duplicate candidates a pure-relevance
    ranking would stack at the top: plant three identical high-rel
    clones plus moderately-relevant diverse vectors; assert (a) the
    relevance shortlist alone would rank the clones 1-2-3, (b) the
    engine's greedy trajectory for query 0 matches an independent
    numpy replay of quantize -> shortlist -> greedy MMR exactly."""
    import numpy as np

    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _MMR_CAND,
        _MMR_K,
        _MMR_LAM,
        _MMR_ONE_MINUS,
        mmr_rerank_topk,
    )

    clone = [0.9, 0.4359, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "q"),  # the query
        # other query slots (vec_id < 5), far from query 0
        (1, [0.0, 0.0, 1.0, 0.0], "q"),
        (2, [0.0, 0.0, 0.9, 0.1], "q"),
        (3, [0.0, 0.0, 0.8, 0.2], "q"),
        (4, [0.0, 0.0, 0.7, 0.3], "q"),
        (10, list(clone), "c"),
        (11, list(clone), "c"),
        (12, list(clone), "c"),
        (20, [0.6, -0.74, 0.3, 0.0], "d"),
        (21, [0.6, -0.3, -0.74, 0.0], "d"),
    ]
    for i in range(8):  # low-relevance background to fill the shortlist
        rows.append((30 + i, [0.05, 0.0, 0.0, 1.0 - i * 0.01], "bg"))
    vecs = {vid: v for vid, v, _ in rows}
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    def qz(v):
        v = np.asarray(v, dtype=np.float64)
        n = np.sqrt(float(v @ v))
        if n <= 0:
            return np.zeros(len(v), dtype=np.int64)
        return np.floor(v * 127.0 / n).astype(np.int64)

    q = {vid: qz(v) for vid, v in vecs.items()}
    rel = {vid: int(q[0] @ qv) for vid, qv in q.items() if vid != 0}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:_MMR_CAND]
    # fixture sanity: pure relevance stacks the three clones on top
    assert sorted(cand[:3]) == [10, 11, 12]

    sel = [cand[0]]
    while len(sel) < _MMR_K:
        rem = [c for c in cand if c not in sel]

        def mmr(c):
            ms = max(int(q[c] @ q[s]) for s in sel)
            return _MMR_LAM * rel[c] - _MMR_ONE_MINUS * ms

        sel.append(min(rem, key=lambda c: (-mmr(c), c)))

    got = sorted(
        (r for r in mmr_rerank_topk(spark, str(tmp_path)).collect()
         if r["query_id"] == 0),
        key=lambda r: r["mmr_rank"],
    )
    assert [r["vec_id"] for r in got] == sel
    # the diversity effect itself: rank 2 is NOT one of the clones
    assert got[0]["vec_id"] == 10 and got[1]["vec_id"] not in (11, 12)


def test_cross_encoder_rerank_flips_first_stage(spark, tmp_path):
    """The re-ranker must be able to OVERRULE first-stage retrieval:
    plant a candidate that wins the bigram tf-idf stage by repeating
    one shared bigram (high dot, low token-set overlap) and a near-copy
    of the query (lower dot, high overlap); the cross-encoder stage has
    to put the near-copy first."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        cross_encoder_rerank,
    )

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    rows = [
        (0, "red fox jumps high", "en", "web", 0),  # the query
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
        # spammy candidate: 6x the shared bigram + 20 unique tokens
        (10, "red fox " * 6 + filler("z", 20), "en", "web", 0),
        # near-copy: shares 3 of 3 query bigrams, tiny token diff
        (11, "red fox jumps high extra", "en", "web", 0),
        (12, filler("u", 8), "en", "web", 0),
        (13, filler("v", 8), "en", "web", 0),
        (14, filler("w", 8), "en", "web", 0),
        (15, filler("x", 8), "en", "web", 0),
        (16, filler("y", 8), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    q0 = {
        r["doc_id"]: r
        for r in cross_encoder_rerank(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    }
    assert set(q0) == {10, 11}  # the only bigram-sharing candidates
    # first stage preferred the spammy repeater...
    assert q0[10]["fs_rank"] == 1 and q0[11]["fs_rank"] == 2
    # ...the cross-encoder stage flips it
    assert q0[11]["ce_rank"] == 1 and q0[10]["ce_rank"] == 2
    assert q0[11]["ce_score_milli"] > q0[10]["ce_score_milli"]
    # exact fake-model arithmetic: |{red,fox,jumps,high}∩+extra| = 4/5
    assert q0[11]["ce_score_milli"] == 800


def test_cluster_silhouette_perfect_separation(spark, tmp_path):
    """16 groups of 4 identical vectors, one seed landing on each group
    (vec_id % stride picks the first member): Lloyd converges to the
    group vectors themselves, so every point has a = 0 and b > 0 —
    simplified silhouette must be EXACTLY 1000 permille per point, 4
    points per cluster."""
    import random

    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.plans.similarity import cluster_silhouette

    rng = random.Random(11)
    rows = []
    for g in range(16):
        v = [rng.gauss(0, 1) * 10 for _ in range(64)]
        for j in range(4):
            rows.append((g * 4 + j, [float(x) for x in v], f"g{g}"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    memo.evict_all(where=lambda key: key[2] == str(tmp_path))  # isolate

    out = cluster_silhouette(spark, str(tmp_path)).collect()
    assert len(out) == 16
    for r in out:
        assert r["n_points"] == 4
        assert r["mean_s_permille"] == 1000
        assert r["sum_s_permille"] == 4000


def test_whitening_check_on_anisotropic_corpus(spark, tmp_path):
    """Whitening must flatten a strongly anisotropic corpus (first axis
    stretched 10x) back to the identity second moment — the gate that
    catches a broken eigendecomp OR a broken distributed apply."""
    import random

    from azure_sales_etl_pipeline_spark.plans.similarity import whitening_check

    rng = random.Random(13)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(64)]
        v[0] *= 10.0  # dominant direction
        rows.append((i, [float(x) for x in v], "bg"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = whitening_check(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_vecs"], r["dim"]) == (200, 64)
    assert r["well_conditioned"] is True
    assert r["identity_ok"] is True


def test_retrieval_rank_agreement_aligned_legs(spark, tmp_path):
    """When the dense and sparse retrievers agree exactly on the common
    candidates, tau must be EXACTLY 1000 permille: plant docs 10..14
    whose sparse scores fall with doc id (decreasing tf of the shared
    bigram) and embeddings whose cosine to query 0 falls the same way."""
    import math

    from azure_sales_etl_pipeline_spark.plans.similarity import (
        retrieval_rank_agreement,
    )

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    docs = [
        (0, "alpha beta gamma delta", "en", "web", 0),
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
    ]
    for i, reps in zip(range(10, 15), (5, 4, 3, 2, 1)):
        docs.append((i, "alpha beta " * reps + filler(f"f{i}", 4), "en", "web", 0))
    for i in range(20, 27):  # df-cap padding, no shared bigrams
        docs.append((i, filler(f"p{i}", 8), "en", "web", 0))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    vecs = [(0, unit(0.0), "q")]
    for k in range(1, 5):  # other query slots, far away
        vecs.append((k, [0.0, 0.0, 1.0, k * 0.1], "q"))
    for j, i in enumerate(range(10, 15)):  # cosine falls as doc_id grows
        vecs.append((i, unit(0.1 * (j + 1)), "c"))
    for i in range(20, 27):
        vecs.append((i, [0.0, 0.0, 0.5, 1.0], "bg"))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r["query_id"]: r for r in retrieval_rank_agreement(spark, str(tmp_path)).collect()}
    r0 = out[0]
    assert r0["n_common"] == 5
    assert (r0["concordant"], r0["discordant"]) == (10, 0)
    assert r0["tau_permille"] == 1000


def test_minhash_index_fold_equals_one_shot(spark, tmp_path):
    """The persisted-band-index incremental path must produce EXACTLY
    the one-shot verified pair set — including planted near-dup pairs
    that straddle the batch split (found via the index join, not the
    intra-batch one)."""
    import random

    from azure_sales_etl_pipeline_spark.plans.dedup import (
        minhash_index_two_batch,
        minhash_lsh_candidates,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(base)))           # low ids: batch 1
        near = list(base)
        near[rng.randrange(40)] = rng.choice(vocab)
        rows.append((100 + i, " ".join(near)))     # high ids: batch 2
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )

    one_shot = {
        (r["doc_a"], r["doc_b"], r["shingle_jaccard"])
        for r in minhash_lsh_candidates(spark, str(tmp_path)).collect()
    }
    folded = {
        (r["doc_a"], r["doc_b"], r["shingle_jaccard"])
        for r in minhash_index_two_batch(spark, str(tmp_path)).collect()
    }
    assert folded == one_shot
    # the planted pairs straddle the median split (ids 0-29 vs 100-129),
    # so agreement requires the batch-vs-INDEX join to have fired
    cross = {p for p in folded if p[0] < 50 <= p[1]}
    assert len(cross) >= 20, f"only {len(cross)} cross-split pairs found"


def _li_replay(docs_rows, n_queries=5, qtok=16, dtok=64, dim=8, depth=20, k=5):
    """Pure-python MaxSim replay: token vectors from sha256 bytes, the
    bigram tf-idf first stage re-used from the Spark result (callers
    pass fs_rank), truncation/multiplicity semantics as documented."""
    import hashlib

    def vec(tok):
        h = hashlib.sha256(tok.encode()).hexdigest()
        return [int(h[2 * j : 2 * j + 2], 16) - 128 for j in range(dim)]

    def toks(text):
        import re

        return re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))

    texts = {d: t for d, t in docs_rows}

    def score(qid, did):
        qts = toks(texts[qid])[:qtok]
        dts = set(toks(texts[did])[:dtok])
        total = 0
        for qt in qts:
            qv = vec(qt)
            total += max(
                sum(a * b for a, b in zip(qv, vec(dt))) for dt in dts
            )
        return total

    return score


def test_late_interaction_rerank_replay_and_clone_agreement(spark, tmp_path):
    """Two gates in one planted corpus:

    1. REPLAY — every li_score equals a pure-python MaxSim replay
       (sha256-byte token vectors, 16/64 truncation, per-occurrence
       query-token multiplicity, distinct doc tokens), pinning the
       operator's arithmetic end to end.
    2. AGREEMENT vs the cross-encoder — on the case where the two
       re-rankers MUST agree (an exact clone of the query among the
       candidates), both put the clone at rank 1. A statistical
       overlap gate would be dishonest here: on the synthetic corpus
       the sha256 stand-in embeddings are lexically meaningless, so
       CE/LI top-5 overlap is measured at 0-2 of 5 (documented in
       SCALE.md) — the clone case is the invariant that survives any
       embedding."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        cross_encoder_rerank,
        late_interaction_rerank,
    )

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    rows = [
        (0, "red fox jumps high over lazy dog", "en", "web", 0),  # query
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
        (10, "red fox jumps high over lazy dog", "en", "web", 0),  # clone
        (11, "red fox jumps high extra words here", "en", "web", 0),
        (12, "red fox " * 5 + filler("z", 12), "en", "web", 0),
        (13, filler("u", 8), "en", "web", 0),
        (14, filler("v", 8), "en", "web", 0),
        (15, filler("w", 8), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    li = [
        r
        for r in late_interaction_rerank(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    assert li, "query 0 produced no re-ranked rows"
    score = _li_replay([(r[0], r[1]) for r in rows])
    for r in li:
        assert r["li_score"] == score(0, r["doc_id"]), r
    li_first = min(li, key=lambda r: r["li_rank"])
    assert li_first["doc_id"] == 10  # the exact clone wins MaxSim

    ce = [
        r
        for r in cross_encoder_rerank(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    ce_first = min(ce, key=lambda r: r["ce_rank"])
    assert ce_first["doc_id"] == 10  # ...and the cross-encoder agrees


def _pqm_vec(i, flip=False):
    sign = -1.0 if flip else 1.0
    return [sign * (((i * 31 + j * 17) % 101) - 50) / 50.0 for j in range(64)]


def test_pq_maintenance_mirror_and_drift(spark, tmp_path):
    """Two exact invariants of the frozen-codebook encode:

    MIRROR — when batch B is a vector-for-vector copy of batch A
    (odd id 2i+1 carries even id 2i's vector), every per-subspace
    statistic must be identical across the A/B split: same counts,
    same codes used, same average reconstruction error.

    DRIFT — when batch B is A sign-flipped (normalized vectors land in
    the opposite hemisphere), the B-side total reconstruction error
    must exceed the A-side: the retrain signal fires."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        pq_index_maintenance,
    )

    def write(dirname, flip_b):
        rows = []
        for i in range(32):
            v = _pqm_vec(i)
            rows.append((2 * i, 0, v))
            rows.append(
                (2 * i + 1, 0, _pqm_vec(i, flip=True) if flip_b else v)
            )
        spark.createDataFrame(
            rows, "vec_id long, label long, embedding array<double>"
        ).write.parquet(str(tmp_path / dirname / "embeddings.parquet"))
        return str(tmp_path / dirname)

    mirror = {
        r["sub"]: r
        for r in pq_index_maintenance(spark, write("mirror", False)).collect()
    }
    for r in mirror.values():
        assert r["n_a"] == r["n_b"] == 32
        assert r["codes_used_a"] == r["codes_used_b"]
        assert r["avg_d2_a"] == r["avg_d2_b"]

    drift = pq_index_maintenance(spark, write("drift", True)).collect()
    tot_a = sum(r["avg_d2_a"] for r in drift)
    tot_b = sum(r["avg_d2_b"] for r in drift)
    assert tot_b > tot_a


def test_embedding_outlier_audit_flags_planted_corruption(spark, tmp_path):
    """16 planted groups of 8 (strided seeds land one per group, the
    cluster_silhouette fixture idiom): with all members identical every
    cluster has zero spread and zero outliers; corrupting ONE member of
    group 0 (+0.5 on every dim — far from its centroid, still nearest
    to it) must flag exactly that vector: d2*8 = 49/64*8*delta2 >
    4*sum_d2 = 224/64*delta2, while its 7 clean peers stay under the
    fence."""
    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        embedding_outlier_audit,
    )

    def proto(g):
        return [1.0 if j % 16 == g else -1.0 for j in range(64)]

    rows = []
    for g in range(16):
        for m in range(8):
            v = proto(g)
            if g == 0 and m == 7:
                v = [x + 0.5 for x in v]
            rows.append((g * 8 + m, g, v))
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    memo.evict_all(where=lambda key: key[2] == str(tmp_path))
    out = {
        r["cluster"]: r
        for r in embedding_outlier_audit(spark, str(tmp_path)).collect()
    }
    assert sum(r["n"] for r in out.values()) == 128
    total_outliers = sum(r["n_outliers"] for r in out.values())
    assert total_outliers == 1
    dirty = [r for r in out.values() if r["n_outliers"] == 1]
    assert dirty[0]["n"] == 8
    assert dirty[0]["outlier_permille"] == 125
    for r in out.values():
        if r is not dirty[0]:
            assert r["n_outliers"] == 0 and r["mean_d2"] == 0


def test_minhash_estimate_gate_exact_on_clones(spark, tmp_path):
    """Clone pairs are the fixed point of the signature estimator:
    identical shingle sets -> identical signatures -> est = exact =
    1000 permille, MAE 0, gate green."""
    from azure_sales_etl_pipeline_spark.plans.dedup import (
        minhash_jaccard_estimate_check,
    )

    text = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"z{i}" for i in range(20))
    spark.createDataFrame(
        [(1, text, "en", "web", 0), (2, text, "en", "web", 0),
         (3, other, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    row = minhash_jaccard_estimate_check(spark, str(tmp_path)).collect()[0]
    assert row["n_pairs"] == 1  # only the clone pair shares a bucket
    assert row["mae_permille"] == 0
    assert row["mean_est_permille"] == 1000
    assert row["mean_exact_permille"] == 1000
    assert row["gate_ok"] is True


def test_semantic_dedup_blocked_matmul_matches_unblocked(spark, tmp_path, monkeypatch):
    """r14 advice #2: the pair kernel column-blocks the g×g matmul so
    per-group temp memory stays bounded as clusters grow. Forcing the
    block width to a single column (block_cells < g) must reproduce the
    one-block output bit-for-bit — per-victim results are column-local,
    so blocking cannot change them."""
    import random

    from azure_sales_etl_pipeline_spark.plans import similarity as sim

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)], "bg") for i in range(40)]
    # clone chains: 100/101 copy vec 5, 102 copies vec 9
    rows += [
        (100, [float(x) for x in rows[5][1]], "dup"),
        (101, [float(x) for x in rows[5][1]], "dup"),
        (102, [float(x) for x in rows[9][1]], "dup"),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    def run():
        return sorted(
            tuple(r) for r in sim.semantic_dedup(spark, str(tmp_path)).collect()
        )

    one_block = run()
    monkeypatch.setattr(sim, "_SEMDEDUP_BLOCK_CELLS", 1)  # ncols == 1 everywhere
    many_blocks = run()
    assert one_block == many_blocks
    assert any(r[0] == 100 and r[2] == 5 for r in one_block)
    assert any(r[0] == 101 and r[2] == 5 for r in one_block)
    assert any(r[0] == 102 and r[2] == 9 for r in one_block)


def test_novelty_two_batch_matches_one_shot_and_kills_cross_batch_dups(
    spark, tmp_path
):
    """The planted cross-batch case the one-shot oracle can't isolate:
    a batch-2 doc repeating batch-1 text must score 0 novelty through
    the FOLDED index (its shingles' first occurrence lives in the
    persisted state, not the batch), a fresh batch-2 doc must score
    1000, and the full fold must equal doc_novelty on the union
    bit-for-bit."""
    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.plans.textops import (
        doc_novelty,
        novelty_two_batch,
    )

    text_a = " ".join(f"a{i}" for i in range(10))
    text_b = " ".join(f"b{i}" for i in range(10))
    text_c = " ".join(f"c{i}" for i in range(10))
    spark.createDataFrame(
        [
            (1, text_a, "en", "web", 0),   # batch 1
            (2, text_b, "en", "web", 0),   # batch 1
            (3, text_a, "en", "web", 0),   # batch 2: clone of doc 1
            (4, text_c, "en", "web", 0),   # batch 2: fresh
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    memo.evict_all(where=lambda key: key[2] == str(tmp_path))
    folded = {
        r["doc_id"]: r
        for r in novelty_two_batch(spark, str(tmp_path)).collect()
    }
    assert folded[3]["n_novel"] == 0
    assert folded[3]["novelty_permille"] == 0
    assert folded[4]["novelty_permille"] == 1000
    assert folded[1]["novelty_permille"] == 1000

    one_shot = sorted(
        tuple(r) for r in doc_novelty(spark, str(tmp_path)).collect()
    )
    assert sorted(tuple(r) for r in folded.values()) == one_shot


def test_minhash_source_similarity_null_signature_docs(spark, tmp_path):
    """The band-split signature recovery must preserve NULL-signature
    semantics for shingle-less docs (concat_ws renders all-NULL slices
    as '', which nullif restores): a source whose only doc is too short
    to shingle must not poison other sources' min-signatures, and clone
    sources must still estimate 1000 permille."""
    from azure_sales_etl_pipeline_spark.plans.dedup import (
        minhash_source_similarity,
    )

    text = " ".join(f"w{i}" for i in range(20))
    spark.createDataFrame(
        [
            (1, text, "en", "s1", 0),
            (2, text, "en", "s2", 0),   # clone of s1's doc
            (3, "xy", "en", "tiny", 0),  # 1 token: no shingles -> NULL sig
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rows = {(r["source_a"], r["source_b"]): r
            for r in minhash_source_similarity(spark, str(tmp_path)).collect()}
    assert rows[("s1", "s2")]["est_jaccard_permille"] == 1000
    # the tiny source's NULL signature matches nothing
    for pair, r in rows.items():
        if "tiny" in pair:
            assert r["matching_slices"] == 0


def test_shared_index_memos_isolate_sf_dirs(spark, tmp_path):
    """The r15 shared-index memos key by (applicationId, sf_dir): two
    corpora queried back-to-back in one session must each see their
    OWN index — a key bug here silently serves corpus A's postings to
    corpus B's queries, which no single-corpus oracle would catch."""
    from azure_sales_etl_pipeline_spark.plans.similarity import (
        _sparse_weighted_terms,
    )
    from azure_sales_etl_pipeline_spark.plans.textops import _bm25_per_term

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    dirs = {}
    for tag, word in (("a", "alpha"), ("b", "bravo")):
        d = tmp_path / tag
        d.mkdir()
        rows = [(i, f"{word}{i % 3} {word}{(i + 1) % 3} filler common", "en", "web", 0)
                for i in range(8)]
        spark.createDataFrame(rows, schema).write.parquet(
            str(d / "documents.parquet")
        )
        dirs[tag] = str(d)

    for fn in (_sparse_weighted_terms, _bm25_per_term):
        toks_a = {r["token"] for r in fn(spark, dirs["a"]).collect()}
        toks_b = {r["token"] for r in fn(spark, dirs["b"]).collect()}
        assert toks_a and toks_b
        assert all("alpha" in t or t == "filler common" for t in toks_a), toks_a
        assert all("bravo" in t or t == "filler common" for t in toks_b), toks_b
        # repeat call: memo hit must return the same corpus, not the
        # most recently built one
        assert {r["token"] for r in fn(spark, dirs["a"]).collect()} == toks_a

    # Same contract for the shared 3-shingle inverted index (the
    # r15-continuation memo under doc_novelty + containment): disjoint
    # vocabularies must yield disjoint shingle keys, and a repeat call
    # must serve the SAME corpus.
    from azure_sales_etl_pipeline_spark.plans.dedup import shingle3_index

    g_a = {r["g"] for r in shingle3_index(spark, dirs["a"]).collect()}
    g_b = {r["g"] for r in shingle3_index(spark, dirs["b"]).collect()}
    assert g_a and g_b and not (g_a & g_b)
    assert {r["g"] for r in shingle3_index(spark, dirs["a"]).collect()} == g_a


def test_ivf_nprobe_sweep_monotone_and_consistent(spark):
    """The sweep's rank-threshold identity: recall must be monotone
    non-decreasing in nprobe (a truth neighbor probed at rank r is hit
    by every level ≥ r), every level shares the same truth-pair
    denominator, and the widest level here (8 = the serving
    ``_IVF_PROBES`` neighborhood) must clear the ann_recall_check IVF
    floor of 0.8 — the sweep exists to pick that serving width, so it
    must reproduce the gate's answer."""
    from azure_sales_etl_pipeline_spark.plans.similarity import ivf_nprobe_sweep

    rows = {r["nprobe"]: r for r in ivf_nprobe_sweep(spark, SF_DIR).collect()}
    assert sorted(rows) == [1, 2, 4, 8]
    denoms = {r["n_truth_pairs"] for r in rows.values()}
    assert len(denoms) == 1 and denoms.pop() > 0
    hits = [rows[p]["n_hits"] for p in (1, 2, 4, 8)]
    assert hits == sorted(hits), f"recall not monotone in nprobe: {hits}"
    assert rows[8]["recall_permille"] >= 800, rows[8]["recall_permille"]


def test_minhash_band_sweep_nested_and_consistent(spark):
    """Hierarchical slicing nests the candidate sets — cand(2,8) ⊆
    cand(4,4) ⊆ cand(8,2) — so candidate AND verified counts must be
    monotone in the band count, precision must not increase with
    permissiveness on this corpus shape, and the reference config's
    coverage is 1000‰ by definition. The verified count at the
    production config (4 bands) must equal the pair count
    minhash_lsh_candidates reports — same streams, same threshold."""
    from azure_sales_etl_pipeline_spark.plans.dedup import (
        minhash_band_sweep,
        minhash_lsh_candidates,
    )

    rows = {r["n_bands"]: r for r in minhash_band_sweep(spark, SF_DIR).collect()}
    assert sorted(rows) == [2, 4, 8]
    assert all(r["rows_per_band"] * b == 16 for b, r in rows.items())
    cands = [rows[b]["n_candidate_pairs"] for b in (2, 4, 8)]
    vers = [rows[b]["n_verified_pairs"] for b in (2, 4, 8)]
    assert cands == sorted(cands), f"candidates not nested: {cands}"
    assert vers == sorted(vers), f"verified not nested: {vers}"
    assert rows[8]["coverage_permille"] == 1000
    assert rows[4]["n_verified_pairs"] == minhash_lsh_candidates(
        spark, SF_DIR
    ).count()
