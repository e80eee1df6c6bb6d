"""Unit semantics for the round-4 text-curation operators (pii_redact,
repetition_signals, doc_chunks) on hand-computable micro-fixtures. The
oracle replica (scripts/check_oracle.py) covers them at corpus scale;
these pin the EDGE semantics a hash comparison can't explain when it
breaks: redaction ordering, ratio denominators, chunk boundaries."""

from __future__ import annotations

import pytest

from azure_sales_etl_pipeline_spark.plans.textops import (
    _CHUNK_STRIDE,
    _CHUNK_TOKENS,
    doc_chunks,
    pii_redact,
    repetition_signals,
)


@pytest.fixture()
def docs_dir(spark, tmp_path):
    rows = [
        # 0: repeats one token -> repetitive by both signals
        (0, "spam " * 19 + "spam", "en", "web", 99),
        # 1: all-distinct tokens
        (1, "alpha beta gamma delta epsilon zeta", "en", "web", 35),
        # 2: exactly _CHUNK_TOKENS+1 tokens -> two chunks, second has
        #    n - stride tokens
        (2, " ".join(f"w{i}" for i in range(_CHUNK_TOKENS + 1)), "en", "web", 1),
        # 3: single token
        (3, "solo", "en", "web", 4),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_winnowing_plagiarism_pairs_guarantee_and_asymmetry(spark, tmp_path):
    """Winnowing's detection guarantee through the pair report: a doc
    embedding another's full text (a shared run far beyond w+k-1
    tokens) MUST surface as a pair with >=1 shared fingerprint — the
    guarantee is at-least-one, NOT all (window alignment differs
    between the two docs, so boundary windows can select different
    minima); an unrelated doc joins no pair."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        winnowing_plagiarism_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    rows = [
        (1, quote, "en", "web", 0),                            # the source
        (2, "intro words here " + quote + " trailing commentary follows now",
         "en", "web", 0),                                      # embeds doc 1
        (3, " ".join(f"z{i}" for i in range(12)), "en", "web", 0),  # unrelated
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in winnowing_plagiarism_pairs(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in k for k in pairs)
    r = pairs[(1, 2)]
    assert r["n_shared"] >= 1
    assert 0 < r["match_a_permille"] <= 1000
    assert 0 < r["match_b_permille"] <= 1000
    # permille shares are exact integer ratios of the reported counts
    assert r["match_a_permille"] == 1000 * r["n_shared"] // r["n_fp_a"]
    assert r["match_b_permille"] == 1000 * r["n_shared"] // r["n_fp_b"]


def test_pii_redact_plants_and_scrubs(spark, docs_dir):
    out = {r["doc_id"]: r for r in pii_redact(spark, docs_dir).collect()}
    r = out[3]
    # planted footer: one email, one IP, and the date's three digit runs
    assert r["n_emails"] == 1 and r["n_ips"] == 1 and r["n_numbers"] == 3
    assert (
        r["redacted_text"]
        == "solo contact <EMAIL> from <IP> on <NUM>-<NUM>-<NUM>"
    )
    # no raw digits, emails, or dotted quads survive in any doc
    for r in out.values():
        assert "@example.com" not in r["redacted_text"]
        assert not any(ch.isdigit() for ch in r["redacted_text"])


def test_repetition_signals_flags_boilerplate(spark, docs_dir):
    out = {r["doc_id"]: r for r in repetition_signals(spark, docs_dir).collect()}
    spam = out[0]
    assert spam["n_tokens"] == 20
    assert spam["distinct_token_ratio"] == 0.05  # 1/20
    assert spam["dup_bigram_frac"] == pytest.approx(18 / 19, abs=1e-4)
    assert spam["repetitive"] is True
    clean = out[1]
    assert clean["distinct_token_ratio"] == 1.0
    assert clean["dup_bigram_frac"] == 0.0
    assert clean["repetitive"] is False
    # single-token doc: zero bigrams, guarded denominator
    assert out[3]["dup_bigram_frac"] == 0.0


def test_doc_chunks_boundaries(spark, docs_dir):
    rows = [r for r in doc_chunks(spark, docs_dir).collect() if r["doc_id"] == 2]
    by_ix = {r["chunk_ix"]: r for r in rows}
    n = _CHUNK_TOKENS + 1
    assert len(by_ix) == 2
    first, second = by_ix[0], by_ix[1]
    assert first["token_start"] == 1 and first["n_chunk_tokens"] == _CHUNK_TOKENS
    assert first["chunk_text"].split() == [f"w{i}" for i in range(_CHUNK_TOKENS)]
    assert second["token_start"] == 1 + _CHUNK_STRIDE
    assert second["n_chunk_tokens"] == n - _CHUNK_STRIDE
    # overlap: second chunk re-reads the last (CHUNK_TOKENS - STRIDE)
    # tokens of the first
    assert second["chunk_text"].split()[0] == f"w{_CHUNK_STRIDE}"
    # single-token doc still yields one chunk
    solo = [r for r in doc_chunks(spark, docs_dir).collect() if r["doc_id"] == 3]
    assert len(solo) == 1 and solo[0]["chunk_text"] == "solo"


def test_vocab_coverage_ranks_and_cumsum(spark, tmp_path):
    from azure_sales_etl_pipeline_spark.plans.textops import vocab_coverage

    rows = [
        (0, "a a a b b c", "en", "web", 11),
        (1, "a b B", "en", "web", 5),  # B lowercases into b
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["token"]: r for r in vocab_coverage(spark, str(tmp_path)).collect()}
    # counts: a=4, b=4, c=1 -> tie on 4 broken by token asc: a then b
    assert out["a"]["rank"] == 1 and out["a"]["n"] == 4 and out["a"]["cum_n"] == 4
    assert out["b"]["rank"] == 2 and out["b"]["cum_n"] == 8
    assert out["c"]["rank"] == 3 and out["c"]["cum_n"] == 9
    assert all(r["total_n"] == 9 for r in out.values())


# ---------------------------------------------------------------------------
# round-5 operators: dup_ngram_fraction, unigram_surprisal, bpe_pair_counts
# ---------------------------------------------------------------------------


@pytest.fixture()
def dup_docs_dir(spark, tmp_path):
    shared = "one two three four five six seven eight"  # exactly an 8-gram
    rows = [
        (0, shared + " tail0 a b c", "en", "web", 1),
        (1, shared + " tail1 d e f", "en", "web", 1),  # shares the 8-gram prefix
        (2, "entirely different tokens with no overlap at all here", "en", "web", 1),
        (3, "short text", "en", "web", 1),  # < 8 tokens -> no shingles
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_dup_ngram_fraction_cross_doc(spark, dup_docs_dir):
    from azure_sales_etl_pipeline_spark.plans.textops import dup_ngram_fraction

    out = {r["doc_id"]: r for r in dup_ngram_fraction(spark, dup_docs_dir).collect()}
    # doc 3 has < 8 tokens: no shingle rows at all
    assert 3 not in out
    # docs 0/1 share exactly the leading 8-gram; each has 12 tokens -> 5 shingles
    for d in (0, 1):
        assert out[d]["n_shingles"] == 5
        assert out[d]["n_dup_shingles"] == 1
        assert out[d]["dup_permille"] == 200
    # doc 2 shares nothing
    assert out[2]["n_dup_shingles"] == 0 and out[2]["dup_permille"] == 0


def test_unigram_surprisal_ranks_rare_docs(spark, dup_docs_dir):
    """A document of corpus-unique tokens must out-surprise one built
    from corpus-frequent tokens; counts are exact."""
    from azure_sales_etl_pipeline_spark.plans.textops import unigram_surprisal

    out = {r["doc_id"]: r for r in unigram_surprisal(spark, dup_docs_dir).collect()}
    assert out[0]["n_tokens"] == 12
    # docs 0/1 share 8 of 11 tokens (halved probabilities); doc 2 is all
    # singletons like doc 3 but longer — mean surprisal: doc2 > doc0
    assert out[2]["mean_surprisal_micronats"] > out[0]["mean_surprisal_micronats"]
    # integer invariant: mean * n <= total < (mean + 1) * n
    for r in out.values():
        assert (
            r["mean_surprisal_micronats"] * r["n_tokens"]
            <= r["surprisal_micronats"]
            < (r["mean_surprisal_micronats"] + 1) * r["n_tokens"]
        )


def test_bpe_pair_counts_hand_checked(spark, tmp_path):
    from azure_sales_etl_pipeline_spark.plans.textops import bpe_pair_counts

    rows = [(0, "abab abab cd", "en", "web", 12)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["pair"]: r for r in bpe_pair_counts(spark, str(tmp_path)).collect()}
    # "abab" x2 -> ab:2x2=4, ba:1x2=2; "cd" -> cd:1; single-char words dropped
    assert out["ab"]["n_occurrences"] == 4
    assert out["ba"]["n_occurrences"] == 2
    assert out["cd"]["n_occurrences"] == 1
    assert out["ab"]["rank"] == 1


def _production_term_both_engines(spark, pairs, num, den):
    """Evaluate the EXACT production surprisal term (the portable-ln
    stage columns + floor-micronat quantization, same text both
    engines) over (num, den) integer pairs; return the two maps."""
    import duckdb
    import pandas as pd

    from azure_sales_etl_pipeline_spark.plans import textops as T

    p_sql = {"n": T._SURPRISAL_UNI_P, "n_bg": T._SURPRISAL_BG_P}[num]
    k, m, z = T._surprisal_stage_sqls(p_sql)
    term = T._surprisal_term_sql()
    body = (
        f"s1 AS (SELECT *, {k} AS __ln_k FROM b), "
        f"s2 AS (SELECT *, {m} AS __ln_m FROM s1), "
        f"s3 AS (SELECT *, {z} AS __ln_z FROM s2) "
        f"SELECT {num}, {den}, {term} AS micronats FROM s3"
    )
    probe_pdf = pd.DataFrame(pairs, columns=[num, den])
    duck = {
        (r[0], r[1]): r[2]
        for r in duckdb.sql(
            f"WITH b AS (SELECT * FROM probe_pdf), {body}"
        ).fetchall()
    }
    spark.createDataFrame(
        pairs, f"{num} bigint, {den} bigint"
    ).createOrReplaceTempView("surprisal_probe_pairs")
    sp = {
        (r[0], r[1]): r[2]
        for r in spark.sql(
            f"WITH b AS (SELECT * FROM surprisal_probe_pairs), {body}"
        ).collect()
    }
    return sp, duck


def test_surprisal_micronat_floor_parity_full_corpus(spark):
    """ADVICE r5: floor(-ln(n/N)*1e6) quantizes independently in Spark
    and DuckDB; any divergence at a floor boundary would flip a
    micronat and break the driver hash. Since round 9 the ln is the
    portable series logarithm (parity by construction); this probe
    still pins the PRODUCTION term text on both engines over EVERY
    distinct (n, N) pair of the current testdata generation, guarding
    engine parsing/eval-order regressions."""
    import duckdb

    from tests.conftest import SF_DIR

    duck_pairs = (
        duckdb.connect()
        .execute(
            r"""
            WITH pos AS (
                SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM read_parquet('"""
            + SF_DIR
            + r"""/documents.parquet')
            ),
            clean AS (SELECT token FROM pos WHERE length(token) > 0),
            counts AS (SELECT token, count(*) AS n FROM clean GROUP BY token),
            total AS (SELECT CAST(sum(n) AS BIGINT) AS corpus_total FROM counts)
            SELECT DISTINCT n, corpus_total FROM counts, total
            """
        )
        .fetchall()
    )
    assert duck_pairs, "corpus produced no (n, N) pairs"
    sp, duck = _production_term_both_engines(spark, duck_pairs, "n", "corpus_total")
    mismatches = [(k, sp[k], duck[k]) for k in duck if sp[k] != duck[k]]
    assert not mismatches, f"floor-boundary divergence at: {mismatches[:10]}"


def test_bigram_surprisal_floor_parity_and_ranking(spark, dup_docs_dir):
    """Cross-engine floor parity over the FULL (n_bg, n_prefix) range
    of the real corpus (same structural risk as the unigram probe), plus
    the ranking sanity on the micro-fixture: a doc with corpus-unique
    bigrams out-surprises one whose bigrams repeat."""
    import duckdb

    from azure_sales_etl_pipeline_spark.plans.textops import bigram_surprisal
    from tests.conftest import SF_DIR

    duck_pairs = (
        duckdb.connect()
        .execute(
            r"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM read_parquet('"""
            + SF_DIR
            + r"""/documents.parquet')
            ),
            pos AS (
                SELECT t[i] AS w1, t[i + 1] AS w2
                FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                      FROM toks WHERE len(t) >= 2)
            ),
            cnt AS (SELECT w1, w2, count(*) AS n_bg FROM pos GROUP BY w1, w2),
            pre AS (SELECT w1, CAST(sum(n_bg) AS BIGINT) AS n_prefix
                    FROM cnt GROUP BY w1)
            SELECT DISTINCT n_bg, n_prefix
            FROM cnt JOIN pre USING (w1)
            """
        )
        .fetchall()
    )
    assert duck_pairs
    sp, duck = _production_term_both_engines(spark, duck_pairs, "n_bg", "n_prefix")
    mismatches = [(k, sp[k], duck[k]) for k in duck if sp[k] != duck[k]]
    assert not mismatches, f"floor-boundary divergence at: {mismatches[:10]}"

    out = {r["doc_id"]: r for r in bigram_surprisal(spark, dup_docs_dir).collect()}
    for r in out.values():
        assert (
            r["mean_surprisal_micronats"] * r["n_bigrams"]
            <= r["surprisal_micronats"]
            < (r["mean_surprisal_micronats"] + 1) * r["n_bigrams"]
        )


def test_source_vocab_drift_planted_shift(spark, tmp_path):
    """A source whose vocabulary diverges from the corpus must score a
    strictly higher L1 drift than sources matching the corpus mix, and
    an all-identical corpus must score (near-)zero everywhere."""
    from azure_sales_etl_pipeline_spark.plans.textops import source_vocab_drift

    base = "alpha beta gamma delta epsilon"
    rows = []
    for i in range(20):  # src_same mirrors the corpus distribution
        rows.append((i, base, "en", "src_same", len(base)))
    for i in range(20, 40):
        rows.append((i, base, "en", "src_other", len(base)))
    for i in range(40, 60):  # src_shift speaks a different vocabulary
        rows.append((i, "zeta eta theta iota kappa", "en", "src_shift", 25))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    drift = {r["source"]: r for r in source_vocab_drift(spark, str(tmp_path)).collect()}
    assert drift["src_shift"]["l1_drift_permille"] > drift["src_same"]["l1_drift_permille"]
    assert drift["src_same"]["l1_drift_permille"] == drift["src_other"]["l1_drift_permille"]
    assert all(r["n_tokens"] == 100 for r in drift.values())


def test_source_curation_rollup_single_scan_and_gate(spark):
    """The rollup must read documents exactly ONCE (signals come from
    shared column expressions, not a join of stage DataFrames) and the
    source gate must re-derive from the emitted permille columns."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        source_curation_rollup,
    )

    df = source_curation_rollup(spark, "/root/testdata/sf0.001")
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert plan.count(") Scan parquet") == 1

    rows = df.collect()
    assert rows
    for r in rows:
        assert r["source_kept"] == (
            r["keep_permille"] >= 900
            and r["en_permille"] >= 350
            and r["dup_permille"] <= 100
        )
        assert 0 <= r["keep_permille"] <= 1000
        assert 0 <= r["en_permille"] <= 1000


def test_pmi_collocations_support_floor_and_values(spark, tmp_path):
    """Planted corpus: (xx,yy) occurs 5x exclusively (PMI = ln 3 given
    the marginals), (aa,bb) 5x with diluted marginals (PMI = ln 75/56);
    (aa,cc) at 3 and (dd,bb) at 2 sit under the support floor and must
    NOT appear no matter how high their PMI. Values checked against
    math.log within the portable series' documented 2e-7 relative
    error."""
    import math

    from azure_sales_etl_pipeline_spark.plans.textops import pmi_collocations

    docs = (
        ["aa bb"] * 5 + ["aa cc"] * 3 + ["dd bb"] * 2 + ["xx yy"] * 5
    )
    spark.createDataFrame(
        [(i, d, "src") for i, d in enumerate(docs)],
        "doc_id bigint, text string, source string",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = sorted(
        pmi_collocations(spark, str(tmp_path)).collect(), key=lambda r: r["rank"]
    )
    assert [(r["w1"], r["w2"], r["n_ab"]) for r in out] == [
        ("xx", "yy", 5),
        ("aa", "bb", 5),
    ]
    # N = 15; (xx,yy): r = 5*15/(5*5) = 3; (aa,bb): r = 5*15/(8*7)
    for row, expect in zip(out, (3.0, 75.0 / 56.0)):
        assert abs(row["pmi_micronats"] / 1e6 - math.log(expect)) < 1e-5


def test_zipf_fit_exact_power_law(spark, tmp_path):
    """A corpus built as an EXACT power law (token w_r appears
    floor(1024/r) times, ranks 1..32) must fit slope ≈ −1: the OLS of
    ln-count on ln-rank over quantized integer nats is replayed in
    Python with math.log/floor and the exact integer numerator and
    denominator must match Spark's bit-for-bit."""
    import math

    from azure_sales_etl_pipeline_spark.plans.textops import zipf_fit

    freqs = {f"w{r:02d}": 1024 // r for r in range(1, 33)}
    words = [w for w, n in freqs.items() for _ in range(n)]
    # 8 words per doc keeps rows small; remainder doc carries the tail
    docs = [
        " ".join(words[i : i + 8]) for i in range(0, len(words), 8)
    ]
    spark.createDataFrame(
        [(i, d, "src") for i, d in enumerate(docs)],
        "doc_id bigint, text string, source string",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = zipf_fit(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_terms"] == 32
    xs = [math.floor(math.log(rank) * 1e4) for rank in range(1, 33)]
    ys = [math.floor(math.log(1024 // rank) * 1e4) for rank in range(1, 33)]
    n = 32
    num = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
    den = n * sum(a * a for a in xs) - sum(xs) ** 2
    # the portable series ln may differ from libm by ~2e-7 relative,
    # which can flip a floor boundary on an exact-log input — compare
    # the slope at that tolerance and the integers loosely
    assert abs(r["zipf_slope"] - num / den) < 1e-3
    assert abs(r["zipf_slope"] - (-1.0)) < 2e-2


def test_dsir_weights_rank_target_like_docs_higher(spark, tmp_path):
    """DSIR semantics: raw-pool documents written in the TARGET
    domain's vocabulary must receive strictly higher importance
    weights than raw documents from a disjoint vocabulary — that
    ordering is the whole point of importance resampling."""
    import random

    from azure_sales_etl_pipeline_spark.plans.textops import (
        _DSIR_TARGET,
        dsir_importance_weights,
    )

    rng = random.Random(3)
    target_vocab = [f"med{i}" for i in range(30)]   # the target domain
    other_vocab = [f"web{i}" for i in range(30)]
    rows = []
    doc_id = 0
    for _ in range(20):  # target corpus defines p_target
        rows.append(
            (doc_id, " ".join(rng.choice(target_vocab) for _ in range(40)),
             "en", _DSIR_TARGET, 0)
        )
        doc_id += 1
    like_ids, unlike_ids = [], []
    for _ in range(10):  # raw pool, target-like
        rows.append(
            (doc_id, " ".join(rng.choice(target_vocab) for _ in range(40)),
             "en", "raw_src", 0)
        )
        like_ids.append(doc_id)
        doc_id += 1
    for _ in range(10):  # raw pool, target-unlike
        rows.append(
            (doc_id, " ".join(rng.choice(other_vocab) for _ in range(40)),
             "en", "raw_src", 0)
        )
        unlike_ids.append(doc_id)
        doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r["weight_micronats"]
        for r in dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(like_ids) | set(unlike_ids)  # raw pool only
    worst_like = min(out[i] for i in like_ids)
    best_unlike = max(out[i] for i in unlike_ids)
    # the separation, not the sign, is the invariant: half the raw pool
    # IS target-like, so p_raw assigns real mass to target features and
    # individual log-ratios may be ≤ 0 — but every target-like doc must
    # still outscore every target-unlike doc
    assert worst_like > best_unlike, (worst_like, best_unlike)


def test_chunk_dedup_rewrite_boundaries_and_order(spark, tmp_path):
    """Pins the rewrite semantics the corpus-scale hash can't explain:
    chunk-boundary alignment (pos multiples of _CDR_W), reassembly
    ORDER, the all-chunks-removed doc (empty prefix, still emitted),
    and the exclusion of untouched docs."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _CDR_W,
        chunk_dedup_rewrite,
    )

    shared = " ".join(f"s{i}" for i in range(_CDR_W))  # one aligned chunk
    u1 = " ".join(f"a{i}" for i in range(_CDR_W))
    u2 = " ".join(f"b{i}" for i in range(_CDR_W))
    tail = "only three tokens"  # trailing partial chunk, unique
    rows = [
        (10, f"{shared} {tail}", "en", "web", 0),  # loses chunk 0
        (11, f"{shared} " + " ".join(f"d{i}" for i in range(_CDR_W)),
         "en", "web", 0),  # loses chunk 0
        (12, shared, "en", "web", 0),  # loses its ONLY chunk
        (13, " ".join(f"c{i}" for i in range(_CDR_W)) + " zz", "en", "web", 0),
        # ^ fully unique -> untouched -> excluded from the output
        (14, f"{u1} {shared} {u2}", "en", "web", 0),  # loses the middle
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["doc_id"]: r for r in chunk_dedup_rewrite(spark, str(tmp_path)).collect()}
    assert set(out) == {10, 11, 12, 14}  # doc 13 untouched, absent
    r10 = out[10]
    assert (r10["n_chunks"], r10["n_removed"], r10["n_tokens_removed"]) == (2, 1, _CDR_W)
    assert r10["clean_prefix"] == tail  # partial trailing chunk survives
    r12 = out[12]
    assert (r12["n_chunks"], r12["n_removed"]) == (1, 1)
    assert r12["clean_prefix"] == ""  # fully-boilerplate doc -> empty rewrite
    r14 = out[14]
    assert (r14["n_chunks"], r14["n_removed"]) == (3, 1)
    # reassembly preserves original order across the removed middle chunk
    assert r14["clean_prefix"] == f"{u1} {u2}"[:60]


def test_bm25_retrieval_length_norm_and_coverage(spark, tmp_path):
    """Pins the ranking behavior behind the corpus-scale hash: (a) more
    matched query terms beat fewer, (b) at equal tf a SHORTER document
    outranks a longer one (the b=0.75 length normalization), (c) docs
    sharing no query bigram never appear for that query."""
    from azure_sales_etl_pipeline_spark.plans.textops import bm25_retrieval_topk

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    rows = [
        (0, "alpha beta gamma delta", "en", "web", 0),  # the query
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
        (10, "alpha beta " + filler("s", 4), "en", "web", 0),   # short match
        (11, "alpha beta " + filler("l", 30), "en", "web", 0),  # long match
        (12, "alpha beta gamma " + filler("t", 4), "en", "web", 0),  # 2 terms
        (13, filler("u", 8), "en", "web", 0),  # no shared bigram
        (14, filler("v", 8), "en", "web", 0),
        (15, filler("w", 8), "en", "web", 0),
        (16, filler("x", 8), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    q0 = {
        r["doc_id"]: r
        for r in bm25_retrieval_topk(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    }
    assert set(q0) == {10, 11, 12}  # only bigram-sharing docs retrieved
    assert q0[12]["rank"] == 1  # two matched terms beat one
    # equal tf, shorter doc wins on length normalization
    assert q0[10]["bm25_sum_micro"] > q0[11]["bm25_sum_micro"]
    assert q0[10]["rank"] == 2 and q0[11]["rank"] == 3


def test_bpe_encode_fertility_python_replay(spark, tmp_path):
    """Pins the encode semantics end-to-end against an independent pure-
    python BPE replay (train 5 merge rounds on corpus word counts, greedy
    left-to-right non-overlapping apply, per-source fertility rollup),
    including the word filter ([a-z]+ and length >= 2)."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _BPE_MERGE_ROUNDS,
        bpe_encode_fertility,
    )

    rows = [
        (0, "abab abab cd zz a x1", "en", "sA", 0),  # 'a'/'x1' filtered out
        (1, "ababab cd cd abab", "en", "sB", 0),
        (2, "zz zz abab", "en", "sB", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    import re
    from collections import Counter

    per_src = Counter()
    corpus = Counter()
    for _, text, _, src, _ in rows:
        for w in text.split():
            if re.fullmatch(r"[a-z]+", w) and len(w) >= 2:
                per_src[(src, w)] += 1
                corpus[w] += 1
    seqs = {w: list(w) for w in corpus}
    for _ in range(_BPE_MERGE_ROUNDS):
        pc = Counter()
        for w, seq in seqs.items():
            for i in range(len(seq) - 1):
                pc[(seq[i], seq[i + 1])] += corpus[w]
        if not pc:
            break
        (a, b), _n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w, seq in seqs.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
    want = {}
    for (src, w), cnt in per_src.items():
        e = want.setdefault(src, [0, 0, 0])
        e[0] += cnt
        e[1] += len(w) * cnt
        e[2] += len(seqs[w]) * cnt

    got = {r["source"]: r for r in bpe_encode_fertility(spark, str(tmp_path)).collect()}
    assert set(got) == set(want)
    for src, (nw, nc, nt) in want.items():
        r = got[src]
        assert (r["n_words"], r["n_chars"], r["n_bpe_tokens"]) == (nw, nc, nt)
        assert r["fertility_milli"] == (1000 * nt) // nw
    # the merges actually compress: fewer BPE tokens than characters
    assert all(r["n_bpe_tokens"] < r["n_chars"] for r in got.values())


def test_prf_expansion_mines_feedback_cooccurrence(spark, tmp_path):
    """Expansion terms must come from the feedback docs, must exclude
    every bigram the query already contains, and must surface the
    bigram that co-occurs across the whole feedback set first."""
    from azure_sales_etl_pipeline_spark.plans.textops import prf_query_expansion

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    rows = [
        (0, "red fox jumps high", "en", "web", 0),  # the query
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
        # feedback docs: share "red fox" with the query, all carry the
        # co-occurring phrase "lazy dog"
        (10, "red fox lazy dog " + filler("s", 4), "en", "web", 0),
        (11, "red fox lazy dog " + filler("t", 4), "en", "web", 0),
        (12, "red fox lazy dog " + filler("u", 4), "en", "web", 0),
        (13, filler("v", 8), "en", "web", 0),
        (14, filler("w", 8), "en", "web", 0),
        (15, filler("x", 8), "en", "web", 0),
        (16, filler("y", 8), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    q0 = sorted(
        (r for r in prf_query_expansion(spark, str(tmp_path)).collect()
         if r["query_id"] == 0),
        key=lambda r: r["exp_rank"],
    )
    assert q0, "query 0 produced no expansion terms"
    query_bigrams = {"red fox", "fox jumps", "jumps high"}
    toks = [r["token"] for r in q0]
    assert not (set(toks) & query_bigrams)  # own terms excluded
    assert "lazy dog" in toks  # the feedback-set phrase surfaces
    # the top term is supported by the ENTIRE feedback set
    assert q0[0]["n_fb_docs"] == 3


def test_rag_context_pack_budget_and_order(spark, tmp_path):
    """Packing invariants: contiguous-prefix packing in (rank, pos)
    order, running total == prefix sum of kept chunk sizes, never over
    budget, and with more candidate tokens than budget something IS
    excluded. First packed chunk is the rank-1 doc's chunk 0."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _RAG_BUDGET,
        rag_context_pack,
    )

    def filler(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    rows = [
        (0, "alpha beta gamma delta", "en", "web", 0),  # the query
        (1, filler("qa", 6), "en", "web", 0),
        (2, filler("qb", 6), "en", "web", 0),
        (3, filler("qc", 6), "en", "web", 0),
        (4, filler("qd", 6), "en", "web", 0),
        # three sharing candidates, each 64+ tokens -> >96 available
        (10, "alpha beta " * 4 + filler("s", 56), "en", "web", 0),
        (11, "alpha beta " * 2 + filler("t", 60), "en", "web", 0),
        (12, "alpha beta " + filler("u", 62), "en", "web", 0),
        (13, filler("v", 8), "en", "web", 0),
        (14, filler("w", 8), "en", "web", 0),
        (15, filler("x", 8), "en", "web", 0),
        (16, filler("y", 8), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    q0 = sorted(
        (r for r in rag_context_pack(spark, str(tmp_path)).collect()
         if r["query_id"] == 0),
        key=lambda r: r["ctx_order"],
    )
    assert q0, "nothing packed for query 0"
    assert [r["ctx_order"] for r in q0] == list(range(1, len(q0) + 1))
    run = 0
    for r in q0:
        run += r["n_chunk_tokens"]
        assert r["cum_tokens"] == run  # exact prefix sum
    assert run <= _RAG_BUDGET
    keys = [(r["rank"], r["pos"]) for r in q0]
    assert keys == sorted(keys)  # rank-major, position-minor order
    assert (q0[0]["rank"], q0[0]["pos"]) == (1, 0)
    # candidates exceed the budget, so packing must have truncated:
    # 3 docs x >=64 tokens >> 96
    assert run < 64 * 3


def test_dp_noisy_counts_seed_and_bounds(spark, tmp_path):
    """Laplace-release mechanics: the noise offset is a pure function
    of the group KEY (same nation name => identical milli offset even
    when its count changes), bounded by b*ln(span) ~ 15.21, and the
    draws differ across names."""
    from azure_sales_etl_pipeline_spark.plans.relational import dp_noisy_counts

    nations = [(i, name, 0, "x") for i, name in enumerate(["AAA", "BBB", "CCC"])]

    def build(dirname, counts):
        d = tmp_path / dirname
        spark.createDataFrame(
            nations, "n_nationkey long, n_name string, n_regionkey long, n_comment string"
        ).write.parquet(str(d / "nation.parquet"))
        rows = []
        cid = 0
        for nk, c in counts.items():
            for _ in range(c):
                rows.append((cid, nk))
                cid += 1
        spark.createDataFrame(
            rows, "c_custkey long, c_nationkey long"
        ).write.parquet(str(d / "customer.parquet"))
        return str(d)

    d1 = build("a", {0: 10, 1: 7, 2: 3})
    d2 = build("b", {0: 25, 1: 7, 2: 30})
    r1 = {r["nation"]: r["noisy_count_milli"] for r in dp_noisy_counts(spark, d1).collect()}
    r2 = {r["nation"]: r["noisy_count_milli"] for r in dp_noisy_counts(spark, d2).collect()}
    n1 = {"AAA": 10, "BBB": 7, "CCC": 3}
    n2 = {"AAA": 25, "BBB": 7, "CCC": 30}
    off1 = {k: r1[k] - 1000 * n1[k] for k in r1}
    off2 = {k: r2[k] - 1000 * n2[k] for k in r2}
    assert off1 == off2  # noise is a pure function of the key
    assert all(abs(v) <= 15_300 for v in off1.values())  # b*ln(2001) bound
    assert len(set(off1.values())) >= 2  # draws differ across names
    # determinism: same inputs, identical release
    r1b = {r["nation"]: r["noisy_count_milli"] for r in dp_noisy_counts(spark, d1).collect()}
    assert r1 == r1b


def test_gopher_repetition_flags_looping_text(spark, tmp_path):
    """A looping-generator doc (one bigram dominating) must fail the
    repetition gate; a diverse doc of the same length must pass; the
    permille arithmetic is pinned exactly for both."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        gopher_repetition_signals,
    )

    loop = "buy now " * 20  # 40 tokens, one bigram everywhere
    diverse = " ".join(f"tok{i}" for i in range(40))
    spark.createDataFrame(
        [
            (1, loop.strip(), "en", "web", 0),
            (2, diverse, "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in gopher_repetition_signals(spark, str(tmp_path)).collect()
    }
    r1, r2 = out[1], out[2]
    # loop doc: 40 tokens, 2 distinct -> dup_token = 38000//40 = 950
    assert r1["dup_token_permille"] == 950
    # 39 bigrams, 2 distinct ("buy now", "now buy") -> dup = 37*1000//39
    assert r1["dup_bigram_permille"] == 37000 // 39
    # "buy now" appears 20x of 39 -> top share 20000//39
    assert r1["top_bigram_permille"] == 20000 // 39
    assert r1["keep_repetition"] is False
    assert r2["dup_token_permille"] == 0
    assert r2["dup_bigram_permille"] == 0
    assert r2["dup_trigram_permille"] == 0
    assert r2["top_bigram_permille"] == 1000 // 39  # every bigram unique
    assert r2["keep_repetition"] is True


def test_ndcg_perfect_and_zero_relevance(spark, tmp_path):
    """Planted ranking-eval corpus: query 0 has an exact clone that BM25
    must retrieve at rank 1 (containment 1000 -> gain 7 -> NDCG exactly
    1000); query 1's only bigram-sharing candidate has unigram
    containment below the lowest grade bound (-> gain 0 -> NDCG 0 with
    n_relevant 0). Queries 2-4 share no capped bigrams with anything
    and must be absent from the report."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        ndcg_retrieval_eval,
    )

    q0 = " ".join(f"alpha{i} beta{i}" for i in range(6))  # 12 tokens
    q1 = " ".join(f"gam{i} del{i}" for i in range(6))
    # shares q1's first bigram (df=2, capped in) but only 2 of its 12
    # unigrams -> containment 166 permille < 250
    weak = "gam0 del0 " + " ".join(f"zz{i}" for i in range(20))
    rows = [
        (0, q0, "en", "web", 0),
        (1, q1, "en", "web", 0),
        (2, "eps0 zet0 eps1 zet1", "en", "web", 0),
        (3, "eta0 the0 eta1 the1", "en", "web", 0),
        (4, "iot0 kap0 iot1 kap1", "en", "web", 0),
        (10, q0, "en", "web", 0),  # exact clone of query 0
        (11, weak, "en", "web", 0),
        (12, " ".join(f"pad{i}" for i in range(12)), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rep = {
        r["query_id"]: r
        for r in ndcg_retrieval_eval(spark, str(tmp_path)).collect()
    }
    assert rep[0]["ndcg_permille"] == 1000
    assert rep[0]["n_relevant"] == 1
    assert rep[0]["dcg_micro"] == 7 * 1_000_000  # gain 7 at rank 1
    assert rep[1]["ndcg_permille"] == 0
    assert rep[1]["n_relevant"] == 0
    assert set(rep) == {0, 1}


def test_exact_substring_rewrite_keep_first_global(spark, tmp_path):
    """ExactSubstr keep-one semantics, globally: a span duplicated
    across docs 1, 2, and (twice) 3 keeps ONLY its first occurrence by
    (doc_id, position) — doc 1 is untouched (absent from the affected
    slice), doc 2 loses the span at an UNALIGNED offset (the case the
    chunk-grain rewrite cannot catch), and doc 3 loses BOTH of its
    copies (neither is the global first), emptying it."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        exact_substring_rewrite,
    )

    span = " ".join(f"s{i}" for i in range(1, 9))  # exactly _ESR_W tokens
    rows = [
        (1, "a1 a2 a3 " + span, "en", "web", 0),
        (2, "b1 b2 " + span + " b3 b4", "en", "web", 0),
        (3, span + " " + span, "en", "web", 0),
        (4, " ".join(f"u{i}" for i in range(12)), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in exact_substring_rewrite(spark, str(tmp_path)).collect()
    }
    assert set(out) == {2, 3}
    assert out[2]["n_dup_windows"] == 1
    assert out[2]["n_tokens_removed"] == 8
    assert out[2]["clean_prefix"] == "b1 b2 b3 b4"
    assert out[3]["n_dup_windows"] == 2
    assert out[3]["n_tokens_removed"] == 16
    assert out[3]["clean_prefix"] == ""


def test_tokenizer_fertility_planted_languages(spark, tmp_path):
    """Fertility = subwords per word under the ceil(len/4) stand-in:
    8-char words cost exactly 2 subwords (fertility 2000 milli), 3-char
    words exactly 1 (1000 milli); multibyte text pays its true UTF-8
    octets in bytes_per_subword."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        tokenizer_fertility_by_lang,
    )

    long_words = " ".join(["abcdefgh"] * 10)   # 10 words x 2 subwords
    short_words = " ".join(["abc"] * 10)       # 10 words x 1 subword
    cyrillic = " ".join(["абвг"] * 10)         # 4 chars = 1 subword, 8 UTF-8 bytes
    rows = [
        (1, long_words, "lw", "s", len(long_words)),
        (2, short_words, "sw", "s", len(short_words)),
        (3, cyrillic, "cy", "s", len(cyrillic)),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["lang"]: r for r in tokenizer_fertility_by_lang(spark, str(tmp_path)).collect()}
    assert out["lw"]["n_words"] == 10 and out["lw"]["n_subwords"] == 20
    assert out["lw"]["fertility_milli"] == 2000
    assert out["sw"]["fertility_milli"] == 1000
    # cyrillic: 10 words x 1 subword; bytes = 10*8 payload + 9 spaces = 89
    assert out["cy"]["n_subwords"] == 10
    assert out["cy"]["n_bytes"] == 89
    assert out["cy"]["bytes_per_subword_milli"] == 8900


def test_fertility_adjusted_token_budgets_planted(spark, tmp_path):
    """Two planted languages with identical raw-word mass but opposite
    tokenizer fertility: the α=1/2 flattening gives them EQUAL raw
    budgets (same word counts), largest-remainder keeps the raw budgets
    summing to the global budget exactly, and the subword conversion
    then charges the high-fertility language proportionally more
    sequence positions — the decision the report exists to make."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _FERT_BUDGET,
        fertility_adjusted_token_budgets,
    )

    # 'lo': 4-char words -> 1 subword/word (fertility 1000 milli)
    # 'hi': 8-char words -> 2 subwords/word (fertility 2000 milli)
    lo_doc = " ".join(["abcd"] * 40)
    hi_doc = " ".join(["abcdefgh"] * 40)
    rows = [
        (1, lo_doc, "lo", "web", len(lo_doc)),
        (2, lo_doc, "lo", "web", len(lo_doc)),
        (3, hi_doc, "hi", "web", len(hi_doc)),
        (4, hi_doc, "hi", "web", len(hi_doc)),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["lang"]: r for r in
           fertility_adjusted_token_budgets(spark, str(tmp_path)).collect()}
    assert out["lo"]["fertility_milli"] == 1000
    assert out["hi"]["fertility_milli"] == 2000
    # identical word mass -> equal raw budgets, summing exactly to B
    budgets = [out["lo"]["raw_token_budget"], out["hi"]["raw_token_budget"]]
    assert sum(budgets) == _FERT_BUDGET
    assert abs(budgets[0] - budgets[1]) <= 1  # largest-remainder split
    # subword space: hi pays exactly fertility x the raw budget
    assert out["lo"]["subword_token_budget"] == out["lo"]["raw_token_budget"]
    assert (
        out["hi"]["subword_token_budget"]
        == out["hi"]["raw_token_budget"] * 2
    )


def test_fertility_budgets_two_batch_equals_one_shot(spark, tmp_path):
    """Fold convergence with a language ARRIVING in batch 2: 'late'
    has no batch-1 rows (its mart row is created by the second fold),
    and the folded allocation must still equal the one-shot
    bit-for-bit — including the largest-remainder split, which
    redistributes when a new language's sqrt-mass joins the pool."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        fertility_adjusted_token_budgets,
        fertility_budgets_two_batch,
    )

    lo = " ".join(["abcd"] * 30)
    hi = " ".join(["abcdefgh"] * 30)
    rows = [
        (1, lo, "lo", "web", 0),
        (2, lo, "lo", "web", 0),
        (3, hi, "hi", "web", 0),
        # doc_id median of {1,2,3,9,10} is 3 -> batch2 = {9,10}
        (9, hi, "late", "web", 0),
        (10, lo, "late", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    one = sorted(tuple(r) for r in
                 fertility_adjusted_token_budgets(spark, str(tmp_path)).collect())
    two = sorted(tuple(r) for r in
                 fertility_budgets_two_batch(spark, str(tmp_path)).collect())
    assert one == two
    langs = [r[0] for r in two]
    assert langs == ["hi", "late", "lo"]


def test_dsir_resample_keeps_every_target_like_doc(spark, tmp_path):
    """The exponential race must follow the weights when the weight gap
    dwarfs the Gumbel spread: with 20 target-like raw docs (importance
    weight ~hundreds of nats above the 40 target-unlike raw docs) and
    k=50 slots over a 60-doc raw pool, every target-like doc must be
    selected — the race key's ln(clock) term spans ~11 nats, orders of
    magnitude below the planted gap, so losing even one target-like doc
    means the key mixed the terms wrong (e.g. a sign flip or a
    micronat/nat unit error)."""
    import random

    from azure_sales_etl_pipeline_spark.plans.textops import (
        _DSIR_RESAMPLE_K,
        _DSIR_TARGET,
        dsir_resample_topk,
    )

    rng = random.Random(7)
    target_vocab = [f"med{i}" for i in range(30)]
    other_vocab = [f"web{i}" for i in range(30)]
    rows = []
    doc_id = 0
    for _ in range(20):  # target corpus defines p_target
        rows.append(
            (doc_id, " ".join(rng.choice(target_vocab) for _ in range(40)),
             "en", _DSIR_TARGET, 0)
        )
        doc_id += 1
    like_ids = []
    for _ in range(20):  # raw pool, target-like
        rows.append(
            (doc_id, " ".join(rng.choice(target_vocab) for _ in range(40)),
             "en", "raw_src", 0)
        )
        like_ids.append(doc_id)
        doc_id += 1
    for _ in range(40):  # raw pool, target-unlike
        rows.append(
            (doc_id, " ".join(rng.choice(other_vocab) for _ in range(40)),
             "en", "raw_src", 0)
        )
        doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = dsir_resample_topk(spark, str(tmp_path)).collect()
    assert len(got) == _DSIR_RESAMPLE_K
    selected = {r["doc_id"] for r in got}
    assert set(like_ids) <= selected, sorted(set(like_ids) - selected)
    # target-domain docs are not resample candidates at all
    assert all(r["source"] != _DSIR_TARGET for r in got)


def test_ccnet_buckets_tercile_sizes_and_tail_doc(spark, tmp_path):
    """ntile semantics and the CCNet ordering on a planted corpus: lang
    'aa' has 7 scoreable docs (terciles 3/2/2) where one doc keeps
    pairing the corpus-common prefix 'the' with a continuation nothing
    else uses — the genuinely-surprising event under a CONDITIONAL
    bigram MLE (a doc of corpus-unique bigrams scores ZERO: singleton
    prefixes make every continuation certain), so it must land in the
    TAIL bucket (3); lang 'bb' has 6 docs (terciles 2/2/2). A 1-token
    doc must not be counted anywhere (the bigram LM has no event for
    it)."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        ccnet_perplexity_buckets,
    )

    fluent = "the cat sat on the mat"
    rows = []
    for i in range(6):  # lang aa, fluent: corpus-frequent bigrams
        rows.append((i, fluent, "aa", "web", 0))
    rows.append((6, "the zz the zz the zz", "aa", "web", 0))  # rare P(zz|the)
    for i in range(7, 13):  # lang bb
        rows.append((i, fluent, "bb", "web", 0))
    rows.append((13, "solo", "aa", "web", 0))  # 1 token: excluded
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = ccnet_perplexity_buckets(spark, str(tmp_path)).collect()
    sizes = {(r["lang"], r["bucket"]): r["n_docs"] for r in out}
    assert sizes[("aa", 1)] == 3 and sizes[("aa", 2)] == 2 and sizes[("aa", 3)] == 2
    assert sizes[("bb", 1)] == 2 and sizes[("bb", 2)] == 2 and sizes[("bb", 3)] == 2
    assert sum(n for (lang, _), n in sizes.items() if lang == "aa") == 7
    # the unique-bigram doc has the strictly highest mean surprisal, so
    # it defines the tail bucket's band in lang aa
    aa_tail = next(r for r in out if r["lang"] == "aa" and r["bucket"] == 3)
    aa_head = next(r for r in out if r["lang"] == "aa" and r["bucket"] == 1)
    assert aa_tail["max_mean_micronats"] > aa_head["max_mean_micronats"]


def test_dsir_and_bigram_memos_isolate_sf_dirs(spark, tmp_path):
    """The r15 shared-index contract applied to the DSIR feature index
    and the per-doc bigram-surprisal table: two corpora of DIFFERENT
    sizes queried interleaved in one session must each see their own
    index — a memo-key bug here serves corpus A's features to corpus
    B (caught by row-count asymmetry), and a stale-overwrite bug is
    caught by the repeat call."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _dsir_feats,
        bigram_surprisal,
    )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    dirs, n_docs = {}, {"a": 8, "b": 5}
    for tag, n in n_docs.items():
        d = tmp_path / tag
        d.mkdir()
        rows = [
            (i, f"{tag}w{i % 3} {tag}w{(i + 1) % 3} common filler", "en",
             "src0" if i == 0 else "web", 0)
            for i in range(n)
        ]
        spark.createDataFrame(rows, schema).write.parquet(
            str(d / "documents.parquet")
        )
        dirs[tag] = str(d)

    for fn, per_doc_rows in ((_dsir_feats, 7), (bigram_surprisal, 1)):
        rows_a = fn(spark, dirs["a"]).collect()
        rows_b = fn(spark, dirs["b"]).collect()
        assert len(rows_a) == n_docs["a"] * per_doc_rows, fn.__name__
        assert len(rows_b) == n_docs["b"] * per_doc_rows, fn.__name__
        # repeat call: memo hit must return the same corpus's frame
        assert sorted(map(tuple, fn(spark, dirs["a"]).collect())) == sorted(
            map(tuple, rows_a)
        ), fn.__name__


def test_dsir_two_batch_equals_one_shot_with_cross_batch_target(spark, tmp_path):
    """The folded feature mart must drive the λ re-fit to the EXACT
    one-shot weights even when the TARGET evidence arrives only in
    batch 2 (doc_ids above the median): λ is global, so batch-1 raw
    docs' weights must reflect target counts they never co-resided
    with — the fold is wrong if it scores batches against per-batch
    λs (the driver additionally enforces fold ≡ one-shot SQL oracle
    at every sample)."""
    from azure_sales_etl_pipeline_spark.plans.textops import (
        _DSIR_TARGET,
        dsir_importance_weights,
        dsir_two_batch,
    )

    rows = [(i, "alpha bravo charlie delta", "en", "raw_src", 25) for i in range(4)]
    rows += [(10 + i, "zulu yankee xray whiskey", "en", "raw_src", 24) for i in range(4)]
    # target docs all live in the SECOND batch (ids above the median)
    rows += [(100 + i, "alpha bravo charlie delta", "en", _DSIR_TARGET, 25) for i in range(4)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    one = sorted(map(tuple, dsir_importance_weights(spark, str(tmp_path)).collect()))
    two = sorted(map(tuple, dsir_two_batch(spark, str(tmp_path)).collect()))
    assert one == two
    # and the target-like raw docs must outrank the unlike ones
    w = {r[0]: r[3] for r in two}
    assert min(w[i] for i in range(4)) > max(w[10 + i] for i in range(4))
