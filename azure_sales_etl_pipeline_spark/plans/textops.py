"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline extension surface (language-ID heuristic,
quality scoring, token counting, fingerprinting, term frequencies).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen, no Python in the loop): regex/split/length for
tokenization, higher-order ``filter``/``transform``/``aggregate`` for
token-set logic, ``sha2`` for fingerprints. At 100 TB each query is
scan → narrow map (no shuffle) except the explicit term-frequency
aggregation, which shuffles once on the token key with map-side
partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession  # noqa: F401
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import memo
from ..catalog import load_table
from ..functions import local_df, plan_barrier
from ..operators import rounds

# Whitespace tokenizer shared by every operator (and mirrored in each
# oracle): trim, split on runs of whitespace.
_WS = r"\s+"


def _tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), _WS)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count (whitespace) + BPE-ish subword estimate:
    word-chunks of <=4 chars via a regex extract — a deterministic stand-in
    for byte-pair tokenization (ceil(len/4) per word)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        # sum(ceil(len(w)/4)) over whitespace words == count of greedy
        # \S{1,4} matches (a run of L non-ws chars yields exactly
        # ceil(L/4) matches) — a JVM regex pass instead of the
        # interpreted F.aggregate lambda (CodegenFallback, ~76 ns/word
        # measured; the regex also skips the split, 6.25 -> 5.27 s on a
        # 500k-doc A/B). Verified value-identical incl. empty /
        # whitespace-only / punctuation-run docs (r14 advice: audit
        # corpus-grain HOFs, SCALE.md round-15 table).
        F.expr(r"regexp_count(text, '\\S{1,4}')").cast("int").alias(
            "n_subwords"
        ),
        F.length("text").alias("n_chars_measured"),
    )


_TOKEN_STATS_SQL = r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                w -> CAST(ceil(length(w) / 4.0) AS INT))) AS INT) AS n_subwords,
           length(text) AS n_chars_measured
    FROM documents
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language TOKENIZER FERTILITY — the multilingual tokenizer-
    quality report (Rust et al. 2021; the metric multilingual model
    cards publish): subwords-per-word (fertility) and bytes-per-subword
    by language. High-fertility languages pay more sequence positions
    per word — the signal that drives vocab-allocation and
    temperature-sampling decisions ([[mixture_temperature_weights]])
    in multilingual pretraining. Uses the same deterministic BPE
    stand-in as [[doc_token_stats]] (ceil(len/4) chunks per
    whitespace word; swap in a real tokenizer's counts and the rollup
    is unchanged).

    All-integer: per-doc word/subword/byte counts sum per language
    (one lang-key aggregate, map-side combined, output bounded at
    |languages| rows), ratios publish as milli-units via truncating
    division. ``n_bytes`` is the UTF-8 OCTET length — bytes-per-subword
    is what byte-fallback tokenizers actually spend."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("w"),
        # same greedy-regex subword count as [[doc_token_stats]] — one
        # JVM pass, no interpreted per-word lambda.
        F.expr(r"regexp_count(text, '\\S{1,4}')").cast("int").alias("sw"),
        F.octet_length("text").alias("b"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("sw").cast("bigint").alias("n_subwords"),
            F.sum("b").cast("bigint").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_subwords",
            "n_bytes",
            F.expr(
                "CAST(1000 * n_subwords DIV greatest(n_words, 1) AS BIGINT)"
            ).alias("fertility_milli"),
            F.expr(
                "CAST(1000 * n_bytes DIV greatest(n_subwords, 1) AS BIGINT)"
            ).alias("bytes_per_subword_milli"),
        )
        .orderBy("lang")
    )


_FERTILITY_SQL = r"""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_split_to_array(trim(text), '\s+')) AS w,
               CAST(list_sum(list_transform(
                    regexp_split_to_array(trim(text), '\s+'),
                    t -> CAST(ceil(length(t) / 4.0) AS INT))) AS INT) AS sw,
               octet_length(encode(text)) AS b
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(sw) AS BIGINT) AS n_subwords,
           CAST(sum(b) AS BIGINT) AS n_bytes,
           CAST(1000 * sum(sw) // greatest(sum(w), 1) AS BIGINT)
               AS fertility_milli,
           CAST(1000 * sum(b) // greatest(sum(sw), 1) AS BIGINT)
               AS bytes_per_subword_milli
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
"""


_FERT_BUDGET = 10_000_000  # global raw-token budget to allocate


def fertility_adjusted_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token budgets in SUBWORD space — the allocation a
    multilingual pretraining run actually makes with the
    [[tokenizer_fertility_by_lang]] report: temperature-flatten the
    per-language raw-word mass at α = 1/2 (the
    [[mixture_temperature_weights]] flattening, floor(sqrt) so it is
    bit-portable), split a global ``_FERT_BUDGET`` raw-token budget by
    those weights with LARGEST-REMAINDER (Hamilton) rounding so the
    integer budgets sum to the budget EXACTLY, then convert each
    language's raw budget to subword positions via its fertility
    milli-ratio — high-fertility languages cost more sequence
    positions per raw word, which is the whole point of the report.

    All-integer: quotas are ``(B·w) DIV ΣW`` with the remainder rank
    breaking ties by language; the rank is a triangular self-join over
    the |languages|-row frame (the ``_prefix_offsets`` idiom — no
    unpartitioned window), so the plan stays distributed even though
    the control frame is tiny. One corpus scan total.
    """
    per_doc = _fertility_per_doc(load_table(spark, sf_dir, "documents"))
    return _budgets_from_lang_grain(
        per_doc.groupBy("lang").agg(
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("sw").cast("bigint").alias("n_subwords"),
        )
    )


def _fertility_per_doc(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w, sw) per-doc word/subword counts — the additive
    grain both the one-shot budgets and the
    [[fertility_budgets_two_batch]] fold aggregate from."""
    toks = _tokens()
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("w"),
        F.expr(r"regexp_count(text, '\\S{1,4}')").cast("int").alias("sw"),
    )


def _budgets_from_lang_grain(lang_grain: DataFrame) -> DataFrame:
    """Largest-remainder budget allocation from the (lang, n_words,
    n_subwords) control frame — shared by the one-shot and folded
    paths so an allocation change cannot reach one and miss the
    other."""
    per_lang = lang_grain.select(
        "lang",
        "n_words",
        "n_subwords",
        F.expr(
            "CAST(1000 * n_subwords DIV greatest(n_words, 1) AS BIGINT)"
        ).alias("fertility_milli"),
        F.floor(F.sqrt(F.col("n_words"))).cast("bigint").alias("w_sqrt"),
    )
    tot = per_lang.agg(F.sum("w_sqrt").alias("tot_w"))
    quota = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_words",
        "n_subwords",
        "fertility_milli",
        F.expr(f"CAST((1000 * w_sqrt) DIV tot_w AS BIGINT)").alias(
            "raw_share_permille"
        ),
        F.expr(f"CAST(({_FERT_BUDGET} * w_sqrt) DIV tot_w AS BIGINT)").alias(
            "base"
        ),
        F.expr(f"CAST(({_FERT_BUDGET} * w_sqrt) % tot_w AS BIGINT)").alias(
            "rem"
        ),
    )
    base_tot = quota.agg(F.sum("base").alias("base_sum"))
    # 0-based "how many languages rank ahead of me" via the triangular
    # left join (rem DESC, lang ASC) — the first `extra` ranked
    # languages absorb the rounding shortfall one token each.
    a, b = quota.alias("a"), quota.alias("b")
    ahead_of = (F.col("b.rem") > F.col("a.rem")) | (
        (F.col("b.rem") == F.col("a.rem")) & (F.col("b.lang") < F.col("a.lang"))
    )
    ranked = (
        a.join(b, ahead_of, "left")
        .groupBy(F.col("a.lang").alias("lang"))
        .agg(
            F.first("a.n_words").alias("n_words"),
            F.first("a.n_subwords").alias("n_subwords"),
            F.first("a.fertility_milli").alias("fertility_milli"),
            F.first("a.raw_share_permille").alias("raw_share_permille"),
            F.first("a.base").alias("base"),
            F.count(F.col("b.lang")).alias("ahead"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(base_tot))
        .select(
            "lang",
            "n_words",
            "n_subwords",
            "fertility_milli",
            "raw_share_permille",
            F.expr(
                f"CAST(base + CASE WHEN ahead < ({_FERT_BUDGET} - base_sum)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("raw_token_budget"),
        )
        .select(
            "*",
            F.expr(
                "CAST(raw_token_budget * fertility_milli DIV 1000 AS BIGINT)"
            ).alias("subword_token_budget"),
        )
        .orderBy("lang")
    )


def fertility_budgets_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained [[fertility_adjusted_token_budgets]] —
    the shape a multilingual curation pipeline re-plans budgets in:
    crawl batches fold their per-doc (lang, words, subwords) counts
    into a persisted |languages|-row mart
    (``operators.maintenance.merge_aggregate`` — both counts are
    additive), and the whole largest-remainder allocation re-runs on
    the folded control frame. Two doc_id-median batches here; the
    convergence contract is the [[doremi_two_batch]] pattern: the
    oracle is the one-shot SQL, so fold(b1) ⊕ fold(b2) must reproduce
    the one-shot budgets bit-for-bit or the driver hash fails.

    Scale shape: per batch ONE lang-key aggregate over the BATCH only
    (map-side combined); the persisted state is |languages| rows
    however long crawl history grows; the allocation touches only
    that state (shared ``_budgets_from_lang_grain`` — an allocation
    change cannot reach one path and miss the other)."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    per_doc = rounds.cut(_fertility_per_doc(docs))
    tmp = tempfile.mkdtemp(prefix="fertct_")
    try:
        state = None
        for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
            state = merge_aggregate(
                spark,
                f"{tmp}/lang_counts",
                per_doc.where(pred).select("lang", "w", "sw"),
                keys=["lang"],
                sums=["w", "sw"],
                count_col="n_docs",
            )
        grain = state.select(
            "lang",
            F.col("w").cast("bigint").alias("n_words"),
            F.col("sw").cast("bigint").alias("n_subwords"),
        )
        return rounds.cut(_budgets_from_lang_grain(grain))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_FERT_BUDGETS_SQL = rf"""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_split_to_array(trim(text), '\s+')) AS w,
               CAST(list_sum(list_transform(
                    regexp_split_to_array(trim(text), '\s+'),
                    t -> CAST(ceil(length(t) / 4.0) AS INT))) AS INT) AS sw
        FROM documents
    ),
    per_lang AS (
        SELECT lang,
               CAST(sum(w) AS BIGINT) AS n_words,
               CAST(sum(sw) AS BIGINT) AS n_subwords
        FROM per_doc GROUP BY lang
    ),
    f AS (
        SELECT *,
               CAST(1000 * n_subwords // greatest(n_words, 1) AS BIGINT)
                   AS fertility_milli,
               CAST(floor(sqrt(n_words)) AS BIGINT) AS w_sqrt
        FROM per_lang
    ),
    tot AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS tot_w FROM f),
    q AS (
        SELECT f.*,
               CAST((1000 * w_sqrt) // tot_w AS BIGINT) AS raw_share_permille,
               CAST(({_FERT_BUDGET} * w_sqrt) // tot_w AS BIGINT) AS base,
               CAST(({_FERT_BUDGET} * w_sqrt) % tot_w AS BIGINT) AS rem
        FROM f, tot
    ),
    bt AS (SELECT CAST(sum(base) AS BIGINT) AS base_sum FROM q),
    r AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, lang) - 1 AS ahead
        FROM q
    )
    SELECT lang, n_words, n_subwords, fertility_milli, raw_share_permille,
           CAST(base + CASE WHEN ahead < ({_FERT_BUDGET} - base_sum)
                       THEN 1 ELSE 0 END AS BIGINT) AS raw_token_budget,
           CAST((base + CASE WHEN ahead < ({_FERT_BUDGET} - base_sum)
                        THEN 1 ELSE 0 END) * fertility_milli // 1000
                AS BIGINT) AS subword_token_budget
    FROM r, bt
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


def _quality_exprs() -> dict[str, Column]:
    """The per-row quality expressions, shared by the ``doc_quality``
    stage and the one-scan composites (``source_curation_rollup``)."""
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin(*_STOPWORDS)))
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    # sum of token lengths == count of non-whitespace chars — one JVM
    # regexp_replace instead of the interpreted F.aggregate lambda
    # (4.88 -> 3.19 s on a 500k-doc A/B; see SCALE.md round-15 HOF
    # audit table).
    mean_wl = F.round(
        F.length(F.regexp_replace("text", r"\s", ""))
        / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    stop_ratio = F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4)
    punct_ratio = F.round(punct / F.greatest(F.length("text"), F.lit(1)), 4)
    return {
        "n_tokens": n_tokens,
        "mean_word_len": mean_wl,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "keep": (
            (n_tokens >= 10)
            & (mean_wl >= 2.0)
            & (mean_wl <= 12.0)
            & (punct_ratio < 0.2)
        ),
    }


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, mean word length, stopword
    ratio, punctuation density, and a composite keep/drop flag — the
    C4/Gopher-style filter stack expressed as one narrow projection."""
    docs = load_table(spark, sf_dir, "documents")
    exprs = _quality_exprs()
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in exprs.items()]
    )


_QUALITY_SQL = rf"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\s+') AS toks,
               length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(list_sum(list_transform(toks, w -> length(w))) * 1.0
                 / greatest(len(toks), 1), 4) AS mean_word_len,
           round(len(list_filter(toks, w -> list_contains(
                 {list(_STOPWORDS)}, lower(w)))) * 1.0
                 / greatest(len(toks), 1), 4) AS stopword_ratio,
           round(punct * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
           (len(toks) >= 10
            AND list_sum(list_transform(toks, w -> length(w))) * 1.0 / greatest(len(toks), 1) >= 2.0
            AND list_sum(list_transform(toks, w -> length(w))) * 1.0 / greatest(len(toks), 1) <= 12.0
            AND punct * 1.0 / greatest(length(text), 1) < 0.2) AS keep
    FROM t
"""


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _lang_exprs() -> dict[str, Column]:
    """Marker-hit counts + argmax prediction as per-row expressions,
    shared by the ``lang_id`` stage and the one-scan composites."""
    toks = _tokens()

    # NB: a default arg would become the HOF's index parameter — PySpark
    # passes (element, index) to 2-arg lambdas — so close over a factory.
    def marker_hits(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda w: F.lower(w).isin(*markers)))

    hits = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.lit("und")
    # First language (in declaration order) achieving the max wins; a tie
    # with zero hits stays undetermined.
    for lang in reversed(langs):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out: dict[str, Column] = {"predicted_lang": pred}
    out.update({f"hits_{lang}": hits[lang] for lang in langs})
    return out


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count stopword hits per language, pick the
    argmax (ties → 'und' = undetermined, fastText convention). A real
    deployment swaps the marker sets for char-n-gram profiles; the plan
    shape (narrow map over tokens, no shuffle) is the same."""
    docs = load_table(spark, sf_dir, "documents")
    exprs = _lang_exprs()
    sel = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    sel += [exprs[name].alias(name) for name in exprs]
    return docs.select(*sel)


def _lang_hits_sql(lang: str) -> str:
    markers = list(_LANG_MARKERS[lang])
    return (
        rf"len(list_filter(regexp_split_to_array(trim(text), '\s+'),"
        rf" w -> list_contains({markers}, lower(w))))"
    )


_LANG_SQL = rf"""
    WITH h AS (
        SELECT doc_id, lang AS labeled_lang,
               {_lang_hits_sql('en')} AS hits_en,
               {_lang_hits_sql('de')} AS hits_de,
               {_lang_hits_sql('es')} AS hits_es,
               {_lang_hits_sql('fr')} AS hits_fr
        FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN greatest(hits_en, hits_de, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'en'
                WHEN hits_de = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'de'
                WHEN hits_es = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           hits_en, hits_de, hits_es, hits_fr
    FROM h
"""


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: sha256 over the whitespace-normalized,
    lowercased text — the canonical exact-dup key (case/spacing-invariant).
    Pure map; at 100 TB this is the cheapest possible keying pass."""
    docs = load_table(spark, sf_dir, "documents")
    norm = _norm_text_expr()
    return docs.select(
        "doc_id",
        F.sha2(norm, 256).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def _norm_text_expr() -> Column:
    """Whitespace-normalized lowercased text — the canonical dedup key
    input, shared by ``doc_fingerprint`` and the one-scan composites."""
    return F.lower(F.regexp_replace(F.trim(F.col("text")), _WS, " "))


_FINGERPRINT_SQL = r"""
    SELECT doc_id,
           sha256(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_len
    FROM documents
"""


# ---------------------------------------------------------------------------
# term frequency (the one shuffling textop)
# ---------------------------------------------------------------------------


def term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency + document frequency: explode tokens →
    groupBy token. The shuffle key is the token (high cardinality, well
    distributed); partial counts combine map-side, so shuffled bytes are
    ~vocabulary-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .where(F.length("token") > 0)
        .select("doc_id", F.lower("token").alias("token"))
    )
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


_TF_SQL = r"""
    SELECT lower(token) AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    )
    WHERE length(token) > 0
    GROUP BY ALL
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 3  # k-gram width (tokens)
_WIN_W = 4  # winnowing window (grams)


def winnowing_fingerprints_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized eager checkpoint of ``_winnowing_fingerprints_frame`` —
    the substrate both winnowing consumers start from: the registered
    [[winnowing_fingerprints]] query and [[winnowing_plagiarism_pairs]]
    read the identical (doc_id, fingerprint) table."""
    return memo.shared(
        "winnow_fp",
        spark,
        sf_dir,
        lambda _keep: rounds.cut(_winnowing_fingerprints_frame(spark, sf_dir)),
    )


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing: hash every token k-gram, slide a window of
    w grams, keep each window's minimum hash — the selected fingerprints
    are a position-robust sketch for plagiarism/near-dup detection.

    Hashes are sha256 hex (portable; hex strings min-compare identically
    in Spark and DuckDB). Entirely higher-order functions: grams and
    window-minima are computed map-side per row, then exploded to
    (doc_id, fingerprint) pairs — the explode is the only row expansion
    and happens AFTER selection, so ~n/w fingerprints per doc, not n.
    The table is the memoized shared substrate
    ``winnowing_fingerprints_raw`` ([[winnowing_plagiarism_pairs]]
    previously checkpointed an identical copy)."""
    return winnowing_fingerprints_raw(spark, sf_dir)


def _winnowing_fingerprints_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LAZY winnowing computation behind the shared substrate."""
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize and gram stages each sit behind a plan_barrier fence (see
    # functions.plan_barrier: CollapseProject + alias-substituting
    # pushdown otherwise re-run the split once per gram position —
    # 3.5s -> 1.3s at sf0.1). Short docs: size(t) >= k pushes to the
    # scan as a cheap O(n) predicate; docs with fewer than w windows
    # get ONE fingerprint (the min over their grams) rather than
    # none — a filter on the gram count would be alias-substituted by
    # pushdown and re-evaluate the whole gram transform per row, and
    # guaranteeing >=1 fingerprint per document is the standard MOSS
    # behavior anyway. (Historical note: the old sequence(1, 0)-
    # descending slice() crash on short docs is dead — they never
    # reach the gram stage.)
    tok_docs = plan_barrier(
        docs.where(F.size(_tokens()) >= _WIN_K).select(
            "doc_id", _tokens().alias("t")
        )
    )
    t = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (_WIN_K - 1)),
        lambda i: F.sha2(F.array_join(F.slice(t, i, _WIN_K), " "), 256),
    )
    staged = plan_barrier(tok_docs.select("doc_id", grams.alias("grams")))
    mins = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(F.col("grams")) - (_WIN_W - 1), F.lit(1)),
        ),
        lambda j: F.array_min(F.slice(F.col("grams"), j, _WIN_W)),
    )
    return staged.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


_WINNOW_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - {_WIN_K - 1}, 0) + 1),
                   i -> sha256(array_to_string(list_slice(toks, i, i + {_WIN_K - 1}), ' '))) AS grams
        FROM t
    )
    SELECT doc_id,
           unnest(list_distinct(
               list_transform(range(1, greatest(len(grams) - {_WIN_W - 1}, 1) + 1),
                   j -> list_min(list_slice(grams, j, j + {_WIN_W - 1}))))) AS fingerprint
    FROM g
    WHERE len(grams) >= 1
"""


_PLAG_DF_MIN, _PLAG_DF_MAX = 2, 20  # rare-fingerprint blocking band
#: Report floor: keep a pair only when the better-matched side has at
#: least this share of its fingerprints in the other doc. Without it
#: the report is dominated by single-coincidence pairs (one shared
#: rare fingerprint between unrelated docs) and grows superlinearly
#: with the corpus — measured 335k rows at sf0.1 un-floored vs a
#: report-sized output floored; MOSS itself reports only top matches.
_PLAG_MIN_MATCH_PERMILLE = 200


def winnowing_plagiarism_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS report itself: document pairs that share winnowed
    fingerprints, with each side's matched share — the
    position-robust plagiarism/reuse detector
    ([[winnowing_fingerprints]] selects the sketch; this query turns
    it into pairs). Winnowing's guarantee carries over: any common
    substring of ≥ w+k−1 tokens shares at least one selected
    fingerprint, so true long-match pairs cannot be missed by the
    sketch — only the rare-fingerprint candidate band can exclude
    them, which is the same df-cap honesty every inverted-index
    system documents (a fingerprint shared by >{df_max} docs is
    boilerplate, not plagiarism).

    Shape: candidate pairs via rare-fingerprint inverted-index
    blocking and the exact shared-fingerprint count via the
    small-side probe join — both the SHARED dedup helpers
    (``dedup.rare_key_candidates`` / ``dedup.exact_pair_overlap``,
    the shingle-containment machinery applied to the ~|tokens|/w
    winnowed substrate, so this query's index is ~w× smaller than
    containment's). All-integer permille output; `match_a_permille`
    = share of a's fingerprints found in b (asymmetric, like MOSS's
    two percentages). Pairs below the ``_PLAG_MIN_MATCH_PERMILLE``
    floor on the better-matched side are dropped — the report stays
    report-sized instead of growing with coincidental single-shared-
    fingerprint pairs (see the constant's measured note)."""
    from .dedup import exact_pair_overlap, rare_key_candidates

    # The fingerprint table comes from the SHARED memoized checkpoint
    # (winnowing_fingerprints_raw) — this query previously built and
    # checkpointed an identical private copy (~0.9 s/pass at sf0.1).
    fp = winnowing_fingerprints_raw(spark, sf_dir).withColumnRenamed(
        "fingerprint", "g"
    )
    cand = rare_key_candidates(fp, _PLAG_DF_MIN, _PLAG_DF_MAX)
    joined = exact_pair_overlap(fp, cand)
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.col("n_sh_a").alias("n_fp_a"),
            F.col("n_sh_b").alias("n_fp_b"),
            F.col("overlap").alias("n_shared"),
            F.expr("(1000 * overlap) div n_sh_a").alias("match_a_permille"),
            F.expr("(1000 * overlap) div n_sh_b").alias("match_b_permille"),
        )
        .where(
            F.expr(
                "greatest(match_a_permille, match_b_permille)"
                f" >= {_PLAG_MIN_MATCH_PERMILLE}"
            )
        )
    )


winnowing_plagiarism_pairs.__doc__ = winnowing_plagiarism_pairs.__doc__.format(
    df_max=_PLAG_DF_MAX
)


_PLAG_SQL = rf"""
    WITH fp AS ({_WINNOW_SQL}),
    rare AS (
        SELECT fingerprint FROM fp GROUP BY fingerprint
        HAVING count(*) BETWEEN {_PLAG_DF_MIN} AND {_PLAG_DF_MAX}
    ),
    p AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN rare USING (fingerprint)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM p a JOIN p b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    ),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        FROM fp GROUP BY doc_id
    ),
    shared AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM cand c
        JOIN fp fa ON fa.doc_id = c.doc_a
        JOIN fp fb ON fb.doc_id = c.doc_b
                  AND fb.fingerprint = fa.fingerprint
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b,
           sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b, s.n_shared,
           (1000 * s.n_shared) // sa.n_fp AS match_a_permille,
           (1000 * s.n_shared) // sb.n_fp AS match_b_permille
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE greatest((1000 * s.n_shared) // sa.n_fp,
                   (1000 * s.n_shared) // sb.n_fp)
          >= {_PLAG_MIN_MATCH_PERMILLE}
"""


# ---------------------------------------------------------------------------
# PII / number redaction (pre-training scrub pass)
# ---------------------------------------------------------------------------

# Patterns legal in BOTH Java regex (Spark) and RE2 (DuckDB): emails,
# IPv4 literals, digit runs. Order matters — emails/IPs first so their
# digits aren't pre-consumed by the number pass.
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_NUM = r"\d+"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction scrub: emails → <EMAIL>, IPv4 → <IP>, remaining digit
    runs → <NUM> — the standard PII/number-normalization pass before
    tokenizer training. Chained JVM ``regexp_replace`` (one narrow map,
    no Python); per-pattern match counts ride along so the scrub is
    auditable downstream (how much was redacted, per doc).

    The synthetic corpus is digit-free by construction, so the query
    first plants a deterministic PII footer (email + IP + date derived
    from doc_id) — otherwise the scrubber would trivially pass as an
    identity map. The oracle plants the identical footer."""
    docs = load_table(spark, sf_dir, "documents")
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 on 2024-01-02"),
    )
    n_email = F.size(F.regexp_extract_all(footer, F.lit(_RE_EMAIL), 0))
    n_ip = F.size(F.regexp_extract_all(footer, F.lit(_RE_IPV4), 0))
    after_email = F.regexp_replace(footer, F.lit(_RE_EMAIL), F.lit("<EMAIL>"))
    after_ip = F.regexp_replace(after_email, F.lit(_RE_IPV4), F.lit("<IP>"))
    n_num = F.size(F.regexp_extract_all(after_ip, F.lit(_RE_NUM), 0))
    redacted = F.regexp_replace(after_ip, F.lit(_RE_NUM), F.lit("<NUM>"))
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_num.alias("n_numbers"),
        redacted.alias("redacted_text"),
    )


_PII_SQL = rf"""
    WITH f AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 on 2024-01-02' AS footer
        FROM documents
    ),
    s AS (
        SELECT doc_id, footer,
               len(regexp_extract_all(footer, '{_RE_EMAIL}')) AS n_emails,
               len(regexp_extract_all(footer, '{_RE_IPV4}')) AS n_ips,
               regexp_replace(regexp_replace(footer, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                              '{_RE_IPV4}', '<IP>', 'g') AS after_ip
        FROM f
    )
    SELECT doc_id, n_emails, n_ips,
           len(regexp_extract_all(after_ip, '{_RE_NUM}')) AS n_numbers,
           regexp_replace(after_ip, '{_RE_NUM}', '<NUM>', 'g') AS redacted_text
    FROM s
"""


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality heuristics)
# ---------------------------------------------------------------------------


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: distinct-token ratio and the
    fraction of duplicate token bigrams — high values flag boilerplate /
    generated spam that length filters miss. All higher-order-function
    map-side work; no shuffle. The ``repetitive`` flag composes the two
    (ratios rounded before comparison so the flag is exactly
    reproducible from the emitted columns)."""
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize → bigrams → stats as THREE projections separated by
    # plan_barrier fences. A deterministic guard is NOT enough here:
    # alias-substituting predicate pushdown rewrites it into the full
    # gram expression and evaluates it interpreted at the scan — this
    # query measured 8.5s (no fence), 3.2s (tautological guard,
    # silently pushed), 0.66s (nondeterministic fence) at sf0.1.
    tok_docs = plan_barrier(docs.select("doc_id", _tokens().alias("t")))
    t = F.col("t")
    n = F.size(t)
    # Guard the degenerate case explicitly: Spark's sequence(1, 0) emits
    # a DESCENDING [1, 0] (not an empty array), whose 0 index then blows
    # up slice() — single-token docs must yield zero bigrams.
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(t, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_docs = plan_barrier(
        tok_docs.select(
            "doc_id",
            n.alias("n_tokens"),
            F.round(F.size(F.array_distinct(t)) / F.greatest(n, F.lit(1)), 4).alias(
                "distinct_token_ratio"
            ),
            grams.alias("g"),
        )
    )
    n_grams = F.size(F.col("g"))
    dup_bigram_frac = F.round(
        (n_grams - F.size(F.array_distinct(F.col("g"))))
        / F.greatest(n_grams, F.lit(1)),
        4,
    )
    return gram_docs.select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        dup_bigram_frac.alias("dup_bigram_frac"),
        (
            (F.col("distinct_token_ratio") < 0.3) | (dup_bigram_frac > 0.3)
        ).alias("repetitive"),
    )


_REPETITION_SQL = r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, toks,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS grams
        FROM t
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 4)
               AS distinct_token_ratio,
           round((len(grams) - len(list_distinct(grams))) * 1.0
                 / greatest(len(grams), 1), 4) AS dup_bigram_frac,
           (round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 4) < 0.3
            OR round((len(grams) - len(list_distinct(grams))) * 1.0
                     / greatest(len(grams), 1), 4) > 0.3) AS repetitive
    FROM g
"""


# ---------------------------------------------------------------------------
# context-window chunking (training-example packing precursor)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64  # window width (tokens)
_CHUNK_STRIDE = 48  # step (=> 16-token overlap between neighbors)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-token-width chunks —
    the windowing pass that feeds embedding models / context packing.
    Chunk starts come from a stride ``sequence`` and the text from
    ``slice`` over the token array, so the row expansion is exactly
    ceil(n/stride) per doc and entirely map-side (no shuffle, no
    Python). Short docs produce one (possibly partial) chunk; the final
    partial chunk is kept iff it adds unseen tokens (start <= n)."""
    docs = load_table(spark, sf_dir, "documents")
    # plan_barrier fence after tokenize (see functions.plan_barrier):
    # real corpora have thousand-token docs, and without it the regex
    # split re-runs inside the per-chunk lambda — quadratic in doc
    # length.
    tok_docs = plan_barrier(docs.select("doc_id", _tokens().alias("t")))
    t = F.col("t")
    n = F.size(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(_CHUNK_STRIDE))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.array_join(F.slice(t, s, _CHUNK_TOKENS), " ").alias("chunk_text"),
            F.least(n - s + 1, F.lit(_CHUNK_TOKENS)).alias("n_chunk_tokens"),
        ),
    )
    exploded = tok_docs.select(
        "doc_id", n.alias("n_tokens"), F.posexplode(chunks).alias("chunk_ix", "c")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_ix").cast("bigint").alias("chunk_ix"),
        F.col("c.start").cast("bigint").alias("token_start"),
        F.col("c.n_chunk_tokens").cast("bigint").alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


_CHUNKS_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    starts AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STRIDE})) AS token_start
        FROM t
    )
    SELECT doc_id,
           CAST((token_start - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_ix,
           CAST(token_start AS BIGINT) AS token_start,
           CAST(least(len(toks) - token_start + 1, {_CHUNK_TOKENS}) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(list_slice(toks, token_start,
                                      token_start + {_CHUNK_TOKENS} - 1), ' ')
               AS chunk_text
    FROM starts
"""


# ---------------------------------------------------------------------------
# vocabulary coverage (tokenizer-prep: top-N vocab + cumulative mass)
# ---------------------------------------------------------------------------

_VOCAB_TOP_N = 1000


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary builder: the top-N corpus tokens by
    frequency with each prefix's cumulative token mass — the curve that
    answers "how many vocab entries cover 95% of the corpus".

    Scale shape: one token-key shuffle with map-side combine for the
    counts, then ``orderBy().limit(N)`` — Spark plans that as
    TakeOrderedAndProject (per-partition top-N heaps, no global sort).
    Only the N surviving rows (vocab-sized, not corpus-sized) pass
    through the single-partition cumulative window; the corpus total
    joins in as a broadcast scalar. Coverage ships as exact BIGINTs
    (``cum_n`` / ``total_n``) — no float reaches the driver's hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_tokens()).alias("token"))
        .where(F.length("token") > 0)
        .select(F.lower("token").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total_n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(_VOCAB_TOP_N)
    # rank/cum over the top-N via a triangular self-join on the bounded
    # post-limit rows (ahead-or-equal in the unique (n desc, token asc)
    # order) — no single-partition WindowExec, same values (r8 idiom,
    # see mlprep._prefix_offsets).
    ahead = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.token") <= F.col("a.token"))
    )
    return (
        top.alias("a")
        .join(top.alias("b"), ahead)
        .groupBy(F.col("a.token").alias("token"), F.col("a.n").alias("n"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rank"),
            F.sum("b.n").cast("bigint").alias("cum_n"),
        )
        .crossJoin(F.broadcast(total))
        .select("rank", "token", "n", "cum_n", "total_n")
    )


_VOCAB_SQL = rf"""
    WITH counts AS (
        SELECT lower(token) AS token, count(*) AS n
        FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents
        )
        WHERE length(token) > 0
        GROUP BY ALL
    ),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM counts),
    top AS (
        SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {_VOCAB_TOP_N}
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
           token, n,
           CAST(sum(n) OVER (ORDER BY n DESC, token) AS BIGINT) AS cum_n,
           total_n
    FROM top CROSS JOIN total
"""


# ---------------------------------------------------------------------------
# cross-document duplicate n-grams (Gopher/RefinedWeb-style corpus signal)
# ---------------------------------------------------------------------------

_DUP_NGRAM_N = 8  # word n-gram width for the cross-doc duplication signal


def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 8-gram positions whose 8-gram occurs
    more than once in the WHOLE corpus — the cross-document companion
    to ``repetition_signals`` (which is within-doc only). High values
    mark boilerplate/templated documents that near-dup sketches can
    miss when only a span is shared.

    Plan shape (the part that matters at 100 TB): shingles are hashed
    to 64-bit with ``xxhash64`` BEFORE any exchange, so every shuffle
    moves 8-byte keys instead of ~50-byte strings. (The oracle groups
    on the raw shingle text: semantically identical barring a 2^-64
    collision.) Positions immediately reduce to per-``(h, doc_id)``
    counts (one map-side-combined exchange), and the corpus totals
    re-aggregate from that REDUCED set — so even when the optimizer
    plans the two consumers as separate subtrees (static plans don't
    always reuse the exchange), the duplicated work is one extra
    tokenize pass, never a second wide shuffle.
    The totals join is AQE's choice (broadcast here — the shingle
    count table is Zipf-bounded; skew-split shuffle if it outgrows
    broadcast). Hot boilerplate shingles never serialize into one
    task, which is why this is a join, not
    ``count() over (partition by h)``.

    Output is all-integers (count + parts-per-thousand via integer
    division), so the driver hash is exact by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    # plan_barrier fence after the tokenize projection: CollapseProject
    # would otherwise inline the split into the per-position lambda —
    # one full re-tokenize per shingle position (measured 9.1s -> 1.2s
    # at sf0.1 for this node alone; see functions.plan_barrier). The
    # short-doc filter keeps its semantics and pushes to the scan as a
    # cheap O(n) predicate.
    tok_docs = plan_barrier(
        docs.where(F.size(_tokens()) >= _DUP_NGRAM_N).select(
            "doc_id", _tokens().alias("t")
        )
    )
    t = F.col("t")
    n = F.size(t)
    positions = tok_docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - _DUP_NGRAM_N + 1),
                lambda i: F.xxhash64(
                    F.array_join(F.slice(t, i, _DUP_NGRAM_N), " ")
                ),
            )
        ).alias("h"),
    )
    # Reduce FIRST: per-(shingle, doc) occurrence counts collapse the
    # position stream before anything downstream consumes it twice.
    pairs = positions.groupBy("h", "doc_id").agg(F.count("*").alias("c"))
    totals = pairs.groupBy("h").agg(F.sum("c").alias("corpus_n"))
    return (
        pairs.join(totals, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_shingles"),
            F.sum(F.when(F.col("corpus_n") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup_shingles"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.expr("n_dup_shingles * 1000 div n_shingles").alias("dup_permille"),
        )
    )


_DUP_NGRAM_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    idx AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) - {_DUP_NGRAM_N} + 2)) AS i
        FROM toks WHERE len(t) >= {_DUP_NGRAM_N}
    ),
    pos AS (
        SELECT doc_id,
               array_to_string(t[i : i + {_DUP_NGRAM_N} - 1], ' ') AS sh
        FROM idx
    ),
    counts AS (SELECT sh, count(*) AS corpus_n FROM pos GROUP BY sh)
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN corpus_n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           CAST(sum(CASE WHEN corpus_n >= 2 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS dup_permille
    FROM pos JOIN counts USING (sh)
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# unigram-LM surprisal (perplexity-style quality score, integer-exact)
# ---------------------------------------------------------------------------


#: ln domain for token probabilities p ∈ (0, 1]: lo −48 covers a
#: singleton token in a 10¹²-token corpus. Shared by both surprisal
#: orders and their parity pytest.
_SURPRISAL_LO_K, _SURPRISAL_HI_K = -48, 1
_SURPRISAL_UNI_P = "(CAST(n AS DOUBLE) / CAST(corpus_total AS DOUBLE))"
_SURPRISAL_BG_P = "(CAST(n_bg AS DOUBLE) / CAST(n_prefix AS DOUBLE))"


def _surprisal_stage_sqls(p: str) -> tuple[str, str, str]:
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    return (
        ln_k_sql(p, _SURPRISAL_LO_K, _SURPRISAL_HI_K),
        ln_m_sql(p, "__ln_k", _SURPRISAL_LO_K, _SURPRISAL_HI_K),
        LN_Z_SQL,
    )


def _surprisal_term_sql() -> str:
    from ..functions import ln_from_kz_sql

    return (
        f"CAST(floor(-({ln_from_kz_sql('__ln_k', '__ln_z')}) * 1.0e6)"
        " AS BIGINT)"
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document total surprisal under the corpus's own unigram MLE
    — the distributed skeleton of perplexity-based quality filtering
    (CCNet-style, with the n-gram LM reduced to unigrams so the whole
    thing stays in SQL). Rare-token-heavy documents score high.

    Two passes: (1) global token counts — one shuffle on the token key,
    map-side combined; (2) positions re-join the count table and sum
    per doc. The count table is Zipf-bounded (vocab ≪ corpus), so the
    probe side broadcasts here; at a 100 TB corpus the vocab may not
    fit an executor — drop the hint and let AQE pick the shuffle join.

    Surprisal is stored as ``floor(-ln(p) * 1e6)`` micronats: the
    per-token value quantizes to an integer BEFORE the sum, so the
    aggregation is order-free-exact and the driver hash can't wobble
    (floats sum in partition order; integers don't care). ln is the
    engine-portable series logarithm (functions.ln_k_sql family) —
    originally this used libm log with an empirically-probed floor
    parity; since round 9 the parity holds BY CONSTRUCTION, and the
    probe pytest pins the production term text on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    positions = docs.select(
        "doc_id", F.explode(_tokens()).alias("token")
    ).where(F.length("token") > 0)
    counts = positions.groupBy("token").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("bigint").alias("corpus_total"))
    k_sql, m_sql, z_sql = _surprisal_stage_sqls(_SURPRISAL_UNI_P)
    scored = (
        positions.join(F.broadcast(counts), "token")
        .crossJoin(F.broadcast(total))
        .withColumn("__ln_k", F.expr(k_sql))
        .withColumn("__ln_m", F.expr(m_sql))
        .withColumn("__ln_z", F.expr(z_sql))
    )
    micronats = F.expr(_surprisal_term_sql())
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(micronats).alias("surprisal_micronats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "surprisal_micronats",
            F.expr("surprisal_micronats div n_tokens").alias(
                "mean_surprisal_micronats"
            ),
        )
    )


def _unigram_surprisal_sql() -> str:
    k_sql, m_sql, z_sql = _surprisal_stage_sqls(_SURPRISAL_UNI_P)
    term = _surprisal_term_sql()
    return rf"""
    WITH pos AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ),
    clean AS (SELECT * FROM pos WHERE length(token) > 0),
    counts AS (SELECT token, count(*) AS n FROM clean GROUP BY token),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS corpus_total FROM counts),
    s1 AS (SELECT doc_id, n, corpus_total, {k_sql} AS __ln_k
           FROM clean JOIN counts USING (token), total),
    s2 AS (SELECT *, {m_sql} AS __ln_m FROM s1),
    s3 AS (SELECT *, {z_sql} AS __ln_z FROM s2)
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum({term}) AS BIGINT) AS surprisal_micronats,
           CAST(sum({term}) // count(*) AS BIGINT)
               AS mean_surprisal_micronats
    FROM s3
    GROUP BY doc_id
"""


_SURPRISAL_SQL = _unigram_surprisal_sql()


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document total CONDITIONAL surprisal under the corpus's own
    bigram MLE — one Markov order above ``unigram_surprisal``, which
    together complete the CCNet-style perplexity-filter skeleton:
    -ln P(w_i | w_{i-1}) with P = count(w_{i-1}, w_i) /
    count(w_{i-1}·) summed per doc. Documents whose word SEQUENCES are
    unusual (not just their word choices) score high — the signal that
    separates shuffled-word spam from fluent text, which the unigram
    score cannot see.

    Plan: bigram pairs build map-side (two array slices zipped — fenced
    so the tokenize projection isn't re-inlined per slice), ONE shuffle
    on the (w1, w2) key for counts; the prefix totals re-aggregate from
    the bigram counts (Zipf-small, broadcast). Same integer-micronat
    quantization as the unigram score — each term floors to BIGINT
    before the sum, so aggregation order can't wobble the driver hash —
    and the same by-construction portable ln (the parity pytest probes
    the production term over this query's full (n_bg, n_prefix)
    range). The |docs|-row scored frame is memoized —
    [[ccnet_perplexity_buckets]] buckets the same scores (read the
    materialized index instead of re-deriving it)."""
    return memo.shared(
        "bigram_scores",
        spark,
        sf_dir,
        lambda _keep: rounds.cut(_bigram_surprisal_build(spark, sf_dir)),
    )


def _bigram_surprisal_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import plan_barrier

    docs = load_table(spark, sf_dir, "documents")
    staged = plan_barrier(
        docs.select("doc_id", _tokens().alias("t")).where(F.size("t") >= 2)
    )
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    positions = staged.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    counts = positions.groupBy("w1", "w2").agg(F.count("*").alias("n_bg"))
    prefix = counts.groupBy("w1").agg(
        F.sum("n_bg").cast("bigint").alias("n_prefix")
    )
    k_sql, m_sql, z_sql = _surprisal_stage_sqls(_SURPRISAL_BG_P)
    scored = (
        positions.join(F.broadcast(counts), ["w1", "w2"])
        .join(F.broadcast(prefix), "w1")
        .withColumn("__ln_k", F.expr(k_sql))
        .withColumn("__ln_m", F.expr(m_sql))
        .withColumn("__ln_z", F.expr(z_sql))
    )
    micronats = F.expr(_surprisal_term_sql())
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(micronats).alias("surprisal_micronats"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_micronats",
            F.expr("surprisal_micronats div n_bigrams").alias(
                "mean_surprisal_micronats"
            ),
        )
    )


def _bigram_surprisal_sql() -> str:
    k_sql, m_sql, z_sql = _surprisal_stage_sqls(_SURPRISAL_BG_P)
    term = _surprisal_term_sql()
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    cnt AS (SELECT w1, w2, count(*) AS n_bg FROM pos GROUP BY w1, w2),
    pre AS (SELECT w1, CAST(sum(n_bg) AS BIGINT) AS n_prefix
            FROM cnt GROUP BY w1),
    s1 AS (SELECT doc_id, n_bg, n_prefix, {k_sql} AS __ln_k
           FROM pos JOIN cnt USING (w1, w2) JOIN pre USING (w1)),
    s2 AS (SELECT *, {m_sql} AS __ln_m FROM s1),
    s3 AS (SELECT *, {z_sql} AS __ln_z FROM s2)
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum({term}) AS BIGINT) AS surprisal_micronats,
           CAST(sum({term}) // count(*) AS BIGINT)
               AS mean_surprisal_micronats
    FROM s3
    GROUP BY doc_id
"""


_BIGRAM_SURPRISAL_SQL = _bigram_surprisal_sql()


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, §3.3):
    within each LANGUAGE, rank documents by LM perplexity and cut the
    ranking into terciles — bucket 1 (head) is the most-fluent third
    that pretraining keeps preferentially, bucket 3 (tail) the
    discard-candidate third. The LM is this corpus's own bigram MLE
    ([[bigram_surprisal]]'s integer-micronat score, mean per bigram ≡
    perplexity rank order), the split is ``ntile(3)`` over
    (mean_surprisal, doc_id) — SQL-standard tercile semantics both
    engines share, deterministic under the doc_id tie-break.

    Output is the per-(lang, bucket) REPORT the pipeline acts on:
    volume (docs, bigram tokens) and the surprisal band
    [min, max] each bucket spans — the numbers that set a language's
    perplexity cutoff.

    Scale shape: the surprisal family's two shuffles, then ONE ntile
    window partitioned by lang (≤ |langs| reducers see |docs| slim
    rows — at 100 TB swap for a per-lang quantile cut via
    ``percentile_approx`` if |docs|/lang outgrows a partition), and a
    final (lang, bucket)-keyed agg. Never corpus²."""
    scored = bigram_surprisal(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("mean_surprisal_micronats", "doc_id")
    bucketed = scored.join(langs, "doc_id").withColumn(
        "bucket", F.ntile(3).over(w)
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.min("mean_surprisal_micronats").alias("min_mean_micronats"),
            F.max("mean_surprisal_micronats").alias("max_mean_micronats"),
        )
    )


_CCNET_BUCKETS_SQL = f"""
    WITH bs AS ({_BIGRAM_SURPRISAL_SQL}),
    bucketed AS (
        SELECT d.lang, bs.n_bigrams, bs.mean_surprisal_micronats,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY bs.mean_surprisal_micronats,
                                       bs.doc_id) AS bucket
        FROM bs JOIN documents d ON d.doc_id = bs.doc_id
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           min(mean_surprisal_micronats) AS min_mean_micronats,
           max(mean_surprisal_micronats) AS max_mean_micronats
    FROM bucketed
    GROUP BY lang, bucket
"""


# ---------------------------------------------------------------------------
# BPE pair statistics (tokenizer-training prep)
# ---------------------------------------------------------------------------

_BPE_TOP_N = 100


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies — the counting
    step of one BPE training iteration (the merge rule is just the
    argmax of this table). Occurrence-weighted, as BPE is: a pair in a
    frequent word counts once per occurrence.

    Plan: word explode → pair transform (``sequence`` + ``substring``,
    all codegen) → pair explode → one hash-agg shuffle on the 2-char
    key → global top-N via orderBy+limit (TakeOrderedAndProject: each
    partition keeps N, the driver merges k×N rows — no global sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(_tokens()).alias("w")).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    ranked = (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(_BPE_TOP_N)
    )
    # rank over the bounded post-limit rows via triangular self-join
    # (ahead-or-equal in the unique order) — no single-partition
    # WindowExec, same values (r8 idiom).
    ahead = (F.col("b.n_occurrences") > F.col("a.n_occurrences")) | (
        (F.col("b.n_occurrences") == F.col("a.n_occurrences"))
        & (F.col("b.pair") <= F.col("a.pair"))
    )
    return (
        ranked.alias("a")
        .join(ranked.alias("b"), ahead)
        .groupBy(F.col("a.pair").alias("pair"), F.col("a.n_occurrences").alias("n_occurrences"))
        .agg(F.count(F.lit(1)).cast("int").alias("rank"))
        .select("rank", "pair", "n_occurrences")
    )


_BPE_SQL = rf"""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents
    ),
    idx AS (
        SELECT w, unnest(range(1, length(w))) AS i
        FROM words WHERE length(w) >= 2
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair FROM idx
    ),
    counted AS (
        SELECT pair, count(*) AS n_occurrences FROM pairs GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC LIMIT {_BPE_TOP_N}
    )
    SELECT row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rank,
           pair, n_occurrences
    FROM counted
"""



# ---------------------------------------------------------------------------
# Zipf fit (corpus frequency-distribution statistics)
# ---------------------------------------------------------------------------

_ZIPF_TOP_N = 1000  # fit over the head: the tail bends off the power law


def _zipf_ln_cols(df: DataFrame, p: str, out: str, lo: int, hi: int) -> DataFrame:
    """Attach ``out`` = floor(ln(p)·1e4) as BIGINT via the portable
    series ln, staging through the shared __ln_* column names (dropped
    after). 1e-4-nat quantization BEFORE the sums keeps every OLS
    accumulator an order-free-exact integer that fits int64 at
    _ZIPF_TOP_N terms (Σxy ≤ 10³·(7e4·5.5e5) ≈ 4e13)."""
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    return (
        df.withColumn("__ln_k", F.expr(ln_k_sql(p, lo, hi)))
        .withColumn("__ln_m", F.expr(ln_m_sql(p, "__ln_k", lo, hi)))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn(
            out,
            F.expr(
                f"CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e4)"
                " AS BIGINT)"
            ),
        )
        .drop("__ln_k", "__ln_m", "__ln_z")
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT over the corpus token distribution — the companion
    statistic to [[vocab_growth]]'s Heaps law: OLS slope of ln(count)
    on ln(rank) over the top-``_ZIPF_TOP_N`` tokens (natural text ≈ −1;
    a corpus drifting toward template/boilerplate flattens, heavy
    dedup steepens — a one-number corpus-health tracker across dumps).

    Plan: one token-key count shuffle (map-side combined), top-N by
    (count desc, token) via TakeOrderedAndProject, rank over the
    bounded N rows by the triangular ahead-or-equal join ([[
    bpe_pair_counts]] idiom), both logs via the portable series ln
    quantized to integer 1e-4 nats BEFORE the sums — the five OLS
    accumulators are exact BIGINTs, so the slope's numerator and
    denominator are bit-stable and only the final single division is
    float (one IEEE op, portable). Output is ONE row."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("w")).limit(_ZIPF_TOP_N)
    ahead = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.w") <= F.col("a.w"))
    )
    ranked = (
        top.alias("a")
        .join(top.alias("b"), ahead)
        .groupBy(F.col("a.w").alias("w"), F.col("a.n").alias("n"))
        .agg(F.count(F.lit(1)).alias("rank"))
    )
    staged = _zipf_ln_cols(ranked, "CAST(rank AS DOUBLE)", "x_e4", 0, 10)
    staged = _zipf_ln_cols(staged, "CAST(n AS DOUBLE)", "y_e4", 0, 48)
    g = staged.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x_e4").alias("sx"),
        F.sum("y_e4").alias("sy"),
        F.sum(F.col("x_e4") * F.col("x_e4")).alias("sxx"),
        F.sum(F.col("x_e4") * F.col("y_e4")).alias("sxy"),
    )
    return g.select(
        "n_terms",
        (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "slope_num"
        ),
        (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "slope_den"
        ),
        F.expr(
            "CAST(n_terms * sxy - sx * sy AS DOUBLE)"
            " / CAST(n_terms * sxx - sx * sx AS DOUBLE)"
        ).alias("zipf_slope"),
    )


def _zipf_sql() -> str:
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    def stages(p: str, out: str, lo: int, hi: int, src: str, n: int) -> str:
        return f"""
    z{n}a AS (SELECT *, {ln_k_sql(p, lo, hi)} AS __ln_k FROM {src}),
    z{n}b AS (SELECT *, {ln_m_sql(p, '__ln_k', lo, hi)} AS __ln_m FROM z{n}a),
    z{n}c AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM z{n}b),
    z{n} AS (
        SELECT w, n, rank,{" x_e4," if n == 2 else ""}
               CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e4)
                    AS BIGINT) AS {out}
        FROM z{n}c
    )"""

    return rf"""
    WITH counts AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents)
        GROUP BY w
    ),
    top AS (
        SELECT w, n FROM counts ORDER BY n DESC, w LIMIT {_ZIPF_TOP_N}
    ),
    ranked AS (
        SELECT w, n,
               CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
        FROM top
    ),{stages("CAST(rank AS DOUBLE)", "x_e4", 0, 10, "ranked", 1)},{stages("CAST(n AS DOUBLE)", "y_e4", 0, 48, "z1", 2)},
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(x_e4) AS BIGINT) AS sx,
               CAST(sum(y_e4) AS BIGINT) AS sy,
               CAST(sum(x_e4 * x_e4) AS BIGINT) AS sxx,
               CAST(sum(x_e4 * y_e4) AS BIGINT) AS sxy
        FROM z2
    )
    SELECT n_terms,
           n_terms * sxy - sx * sy AS slope_num,
           n_terms * sxx - sx * sx AS slope_den,
           CAST(n_terms * sxy - sx * sy AS DOUBLE)
               / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM g
"""


# ---------------------------------------------------------------------------
# PMI collocations (corpus phrase mining)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5  # support floor: PMI is famously noisy on rare pairs
_PMI_TOP_N = 20
#: PMI ratio r = n_ab·N / (n1·n2) ∈ [1/N, N]: lo −48 covers N up to
#: 2⁴⁸ bigrams (~10¹⁴, a 100 TB corpus); hi 28 caps the useful top end
#: (r > 2²⁸ needs a pair whose words essentially never appear apart in
#: a ≥268M-bigram corpus — document the ladder if one ever does).
_PMI_P = (
    "(CAST(n_ab AS DOUBLE) * CAST(n_total AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
)


def _pmi_stage_sqls() -> tuple[str, str, str, str]:
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    return (
        ln_k_sql(_PMI_P, -48, 28),
        ln_m_sql(_PMI_P, "__ln_k", -48, 28),
        LN_Z_SQL,
        f"CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6) AS BIGINT)",
    )


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N COLLOCATIONS by pointwise mutual information — the classic
    phrase-mining pass (Church & Hanks): PMI(a,b) = ln(p(ab)/(p(a)p(b)))
    over adjacent word pairs, with positional marginals (a as first
    word, b as second) and a support floor of ``_PMI_MIN_COUNT`` —
    unsmoothed PMI maximizes on hapax pairs, so the floor is part of
    the definition, not a performance trick. High-PMI survivors are
    the multi-word expressions a phrase-aware tokenizer or n-gram
    vocabulary promotes to single units.

    Plan: the same map-side bigram build as [[bigram_surprisal]] (one
    (w1,w2)-key shuffle, map-side combined); BOTH marginals and the
    grand total re-aggregate from that Zipf-bounded count table —
    the corpus is never re-scanned. The ratio is three IEEE-basic ops
    on exact counts; ln is the portable series ([[bm25_topterms]]
    family), so pmi_micronats is bit-identical cross-engine. Top-N by
    (pmi, words) via orderBy+limit (TakeOrderedAndProject), ranked by
    the bounded triangular ahead-or-equal join — no single-partition
    window. The marginal tables are unigram-vocab-sized: broadcast is
    right up to ~100M types; past that drop the hints and let AQE plan
    the two shuffle joins (the [[unigram_surprisal]] caveat)."""
    from ..functions import plan_barrier

    docs = load_table(spark, sf_dir, "documents")
    staged = plan_barrier(
        docs.select(_tokens().alias("t")).where(F.size("t") >= 2)
    )
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    positions = staged.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    counts = positions.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    left = counts.groupBy("w1").agg(F.sum("n_ab").alias("n1"))
    right = counts.groupBy("w2").agg(F.sum("n_ab").alias("n2"))
    total = counts.agg(F.sum("n_ab").alias("n_total"))
    k_sql, m_sql, z_sql, term = _pmi_stage_sqls()
    scored = (
        counts.where(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn("__ln_k", F.expr(k_sql))
        .withColumn("__ln_m", F.expr(m_sql))
        .withColumn("__ln_z", F.expr(z_sql))
        .withColumn("pmi_micronats", F.expr(term))
        .select("w1", "w2", "n_ab", "pmi_micronats")
    )
    top = scored.orderBy(
        F.col("pmi_micronats").desc(), F.col("w1"), F.col("w2")
    ).limit(_PMI_TOP_N)
    ahead = (F.col("b.pmi_micronats") > F.col("a.pmi_micronats")) | (
        (F.col("b.pmi_micronats") == F.col("a.pmi_micronats"))
        & (
            (F.col("b.w1") < F.col("a.w1"))
            | ((F.col("b.w1") == F.col("a.w1")) & (F.col("b.w2") <= F.col("a.w2")))
        )
    )
    return (
        top.alias("a")
        .join(top.alias("b"), ahead)
        .groupBy(
            F.col("a.w1").alias("w1"),
            F.col("a.w2").alias("w2"),
            F.col("a.n_ab").alias("n_ab"),
            F.col("a.pmi_micronats").alias("pmi_micronats"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("rank"))
        .select("rank", "w1", "w2", "n_ab", "pmi_micronats")
    )


def _pmi_sql() -> str:
    k_sql, m_sql, z_sql, term = _pmi_stage_sqls()
    return rf"""
    WITH toks AS (
        SELECT regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    pos AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
            FROM pos GROUP BY w1, w2),
    l AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n1 FROM cnt GROUP BY w1),
    r AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS n2 FROM cnt GROUP BY w2),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_total FROM cnt),
    s1 AS (
        SELECT w1, w2, n_ab, n1, n2, n_total, {k_sql} AS __ln_k
        FROM cnt JOIN l USING (w1) JOIN r USING (w2), tot
        WHERE n_ab >= {_PMI_MIN_COUNT}
    ),
    s2 AS (SELECT *, {m_sql} AS __ln_m FROM s1),
    s3 AS (SELECT *, {z_sql} AS __ln_z FROM s2),
    scored AS (
        SELECT w1, w2, n_ab, {term} AS pmi_micronats FROM s3
        ORDER BY pmi_micronats DESC, w1, w2 LIMIT {_PMI_TOP_N}
    )
    SELECT CAST(row_number() OVER (ORDER BY pmi_micronats DESC, w1, w2)
                AS INTEGER) AS rank,
           w1, w2, n_ab, pmi_micronats
    FROM scored
"""


_BPE_MERGE_ROUNDS = 5


def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE TRAINING — ``bpe_pair_counts`` is one round's
    counting step; this runs ``_BPE_MERGE_ROUNDS`` full merge rounds
    and returns the learned merge table (round, lhs, rhs, merged,
    occurrence-weighted count), i.e. the actual tokenizer-training
    loop over the corpus.

    State is the distinct-word vocabulary with corpus frequencies —
    |vocab| rows however big the corpus (the corpus itself is scanned
    ONCE) — each word's symbol sequence encoded as a delimited string
    ``(h)(e)(l)(l)(o)``. Per round: adjacent pairs explode from the
    symbol split and hash-aggregate frequency-weighted (one shuffle on
    the pair key); the argmax pair is a 1-row driver collect (control
    plane); the merge itself is a single JVM-side ``replace`` of
    ``(a)(b)``→``(ab)`` — the paren delimiters make left-to-right
    replace exactly BPE's greedy non-overlapping merge, with no UDF
    and no per-symbol lambda (words restricted to [a-z]+ so delimiters
    can never occur inside a symbol). ``operators.rounds.iterate`` runs
    the rounds and stops once no word has two symbols left."""
    seed = rounds.cut(
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr(
                "concat('(', array_join(transform(sequence(1, length(w)), "
                "i -> substring(w, i, 1)), ')('), ')')"
            ).alias("s"),
            "n",
        )
    )
    merges = []

    def merge(state: DataFrame, rnd: int, obs: Observation) -> DataFrame:
        pairs = (
            state.select(
                F.split(
                    F.expr("substring(s, 2, length(s) - 2)"), r"\)\("
                ).alias("arr"),
                "n",
            )
            .where(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1), "
                        "i -> struct(element_at(arr, i) AS a, element_at(arr, i + 1) AS b))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1).collect()
        if top:  # empty only for an empty vocabulary
            a, b, cnt = top[0]
            merges.append((rnd, a, b, a + b, int(cnt)))
            state = state.withColumn("s", F.expr(f"replace(s, '({a})({b})', '({a}{b})')"))
        return state.observe(
            obs, F.count(F.when(F.col("s").contains(")("), 1)).alias("mergeable")
        )

    rounds.iterate(
        seed,
        merge,
        max_rounds=_BPE_MERGE_ROUNDS,
        converged=lambda probe: probe["mergeable"] == 0,
        on_bound="stop",
    )
    return local_df(
        spark, merges, "round int, lhs string, rhs string, merged string, n_occurrences bigint"
    )


def _bpe_chain_sql() -> str:
    """Shared unrolled-CTE chain replaying the BPE TRAINING loop (same
    paren encoding, same replace-based greedy merge): defines ``words``,
    ``s0``..``s{R}`` (vocab states) and ``m1``..``m{R}`` (the learned
    merges) — consumed by both the merge-table oracle and the
    encode/fertility oracle."""
    parts = [
        r"""WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents) t
        WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
        GROUP BY w
    ),
    s0 AS (
        SELECT '(' || array_to_string(
                   list_transform(range(1, length(w) + 1),
                                  i -> substr(w, CAST(i AS INTEGER), 1)),
                   ')(') || ')' AS s, n
        FROM words
    )"""
    ]
    for r in range(1, _BPE_MERGE_ROUNDS + 1):
        parts.append(f""",
    p{r} AS (
        SELECT arr[CAST(i AS INTEGER)] AS a, arr[CAST(i AS INTEGER) + 1] AS b,
               CAST(sum(n) AS BIGINT) AS cnt
        FROM (SELECT str_split(substr(s, 2, length(s) - 2), ')(') AS arr, n
              FROM s{r-1}) t,
             unnest(range(1, len(arr))) AS u(i)
        GROUP BY 1, 2
    ),
    m{r} AS (
        SELECT a, b, cnt FROM p{r}
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ),
    s{r} AS (
        SELECT replace(s, '(' || m.a || ')(' || m.b || ')',
                       '(' || m.a || m.b || ')') AS s, n
        FROM s{r-1}, m{r} m
    )""")
    return "".join(parts)


def _bpe_merge_sql() -> str:
    """Unrolled-CTE DuckDB replay of the merge loop: same paren
    encoding, same replace-based greedy merge, one CTE pair per round."""
    selects = [
        f"SELECT {r} AS round, a AS lhs, b AS rhs, a || b AS merged, cnt AS n_occurrences FROM m{r}"
        for r in range(1, _BPE_MERGE_ROUNDS + 1)
    ]
    return _bpe_chain_sql() + "\n    " + "\n    UNION ALL ".join(selects)


def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the APPLY side of the tokenizer loop
    ([[bpe_merge_steps]] trains the merge table; this applies it) plus
    the metric the application feeds: per-source tokenizer FERTILITY
    (BPE tokens emitted per word — the standard measure of how well a
    tokenizer fits a domain; a source whose fertility spikes is one the
    vocabulary doesn't cover, the multilingual-curation red flag).

    Encoding runs at the DISTINCT-WORD grain, not per occurrence: each
    vocabulary word's paren-encoded symbol string gets the learned
    merges applied IN TRAINING ORDER as chained JVM ``replace``s (the
    delimiter trick from the trainer — left-to-right replace IS BPE's
    greedy non-overlapping merge, no UDF), then per-occurrence counts
    join back on the word key. Scale shape: corpus scanned once into
    (source, word) counts (one shuffle, map-side combined,
    checkpointed); the merge table is a ≤5-row driver collect (control
    plane, same class as the trainer's per-round argmax); encode is a
    narrow map over |vocab| rows; the join back keys on the word;
    the rollup is |sources| rows. Fertility denominators are exact
    integers; the ratio uses truncating ``div`` (portable)."""
    merges = bpe_merge_steps(spark, sf_dir).collect()  # <=5 rows
    docs = load_table(spark, sf_dir, "documents")
    wt = rounds.cut(
        docs.select("source", F.explode(_tokens()).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # feeds the distinct-vocab encode AND the join
    )
    vocab = wt.select("w").distinct().select(
        "w",
        F.expr(
            "concat('(', array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ')('), ')')"
        ).alias("s"),
    )
    for m in merges:
        a, b = m["lhs"], m["rhs"]
        vocab = vocab.withColumn(
            "s", F.expr(f"replace(s, '({a})({b})', '({a}{b})')")
        )
    enc = vocab.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(")
        )
        .cast("bigint")
        .alias("ntok"),
    )
    return (
        wt.join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.length("w") * F.col("cnt")).cast("bigint").alias("n_chars"),
            F.sum(F.col("ntok") * F.col("cnt")).cast("bigint").alias(
                "n_bpe_tokens"
            ),
            F.expr(
                "CAST((1000 * sum(ntok * cnt)) div sum(cnt) AS BIGINT)"
            ).alias("fertility_milli"),
        )
        .orderBy("source")
    )


def _bpe_fertility_sql() -> str:
    encs = []
    prev = "e0"
    for r in range(1, _BPE_MERGE_ROUNDS + 1):
        encs.append(f""",
    e{r} AS (
        SELECT w, replace(s, '(' || m.a || ')(' || m.b || ')',
                          '(' || m.a || m.b || ')') AS s
        FROM {prev}, m{r} m
    )""")
        prev = f"e{r}"
    return (
        _bpe_chain_sql()
        + rf""",
    wsrc AS MATERIALIZED (
        SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source,
                     unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents) t
        WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
        GROUP BY source, w
    ),
    e0 AS (
        SELECT w, '(' || array_to_string(
                   list_transform(range(1, length(w) + 1),
                                  i -> substr(w, CAST(i AS INTEGER), 1)),
                   ')(') || ')' AS s
        FROM (SELECT DISTINCT w FROM wsrc)
    )"""
        + "".join(encs)
        + f""",
    enc AS (
        SELECT w,
               CAST(len(str_split(substr(s, 2, length(s) - 2), ')('))
                    AS BIGINT) AS ntok
        FROM {prev}
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(length(w) * cnt) AS BIGINT) AS n_chars,
           CAST(sum(ntok * cnt) AS BIGINT) AS n_bpe_tokens,
           CAST((1000 * sum(ntok * cnt)) // sum(cnt) AS BIGINT)
               AS fertility_milli
    FROM wsrc JOIN enc USING (w)
    GROUP BY source
    ORDER BY source
"""
    )


#: Drift vocabulary cap: the grid is K × |sources| regardless of corpus
#: size. 1000 covers this corpus's whole vocabulary (31 tokens) and the
#: head of any real one.
_DRIFT_VOCAB_K = 1000


def source_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-domain drift monitor: how far each SOURCE's token
    distribution sits from the corpus-wide distribution, as an exact
    integer L1 distance — the per-domain counterpart of
    ``order_drift_histogram`` and the signal a curation pipeline uses
    to spot a source whose content shifted (scraper broke, domain
    pivoted, spam flood) before it pollutes a mixture. Per (source,
    token): share of the source's own tokens in permille; per token:
    corpus share; drift(source) = Σ_token |share_src − share_corpus|,
    summed over the corpus vocabulary (tokens a source lacks contribute
    the full corpus share — the L1 definition needs the outer join).

    Shape: ONE token-key shuffle (map-side combined counts at (source,
    token) grain), corpus marginals re-aggregated from those counts
    (never a second scan), and a completion grid bounded BY
    CONSTRUCTION: the vocabulary is capped to the corpus's top
    ``_DRIFT_VOCAB_K`` tokens (TakeOrderedAndProject — drift mass
    concentrates in head tokens; a web-scale tail would otherwise make
    the grid |vocab|×|sources|), so the outer-join completion is
    K × |sources| rows whatever the corpus size, then a final
    source-grain sum. Totals stay FULL-corpus (n_src over all tokens),
    so shares are true probabilities, not renormalized head shares."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), _WS)).alias("token")
    )
    # Pinned: FOUR consumers (source totals, token totals, corpus total,
    # and the grid's left join) read the (source, token) counts — the
    # unfenced plan re-tokenized the whole corpus once per consumer
    # (8 scans measured). |sources|×|vocab| rows to pin.
    st = rounds.cut(
        tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    src_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_src"))
    tok_tot = (
        st.groupBy("token")
        .agg(F.sum("n_st").alias("n_tok"))
        .orderBy(F.desc("n_tok"), "token")
        .limit(_DRIFT_VOCAB_K)
    )
    corpus_tot = st.agg(F.sum("n_st").alias("n_all"))
    # complete (source × vocab) grid so absent tokens still contribute
    grid = (
        src_tot.crossJoin(F.broadcast(tok_tot))
        .join(st, ["source", "token"], "left")
        .withColumn("n_st", F.coalesce("n_st", F.lit(0)))
        .crossJoin(F.broadcast(corpus_tot))
    )
    diff = F.abs(
        F.expr("n_st * 1000 DIV n_src") - F.expr("n_tok * 1000 DIV n_all")
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_src").alias("n_tokens"),
            F.sum(diff).cast("bigint").alias("l1_drift_permille"),
        )
        .select("source", "n_tokens", "l1_drift_permille")
    )


_SOURCE_DRIFT_SQL = rf"""
    WITH tok AS (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ),
    st AS (SELECT source, token, count(*) AS n_st FROM tok GROUP BY ALL),
    src_tot AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_src FROM st GROUP BY source),
    tok_tot AS (SELECT token, CAST(sum(n_st) AS BIGINT) AS n_tok FROM st
                GROUP BY token ORDER BY n_tok DESC, token LIMIT {_DRIFT_VOCAB_K}),
    corpus AS (SELECT CAST(sum(n_st) AS BIGINT) AS n_all FROM st),
    grid AS (
        SELECT s.source, t.token, s.n_src, t.n_tok, c.n_all,
               coalesce(st.n_st, 0) AS n_st
        FROM src_tot s
        CROSS JOIN tok_tot t
        CROSS JOIN corpus c
        LEFT JOIN st ON st.source = s.source AND st.token = t.token
    )
    SELECT source,
           max(n_src) AS n_tokens,
           CAST(sum(abs((n_st * 1000) // n_src
                        - (n_tok * 1000) // n_all)) AS BIGINT)
               AS l1_drift_permille
    FROM grid
    GROUP BY source
"""


def source_curation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-level curation (RefinedWeb/Gopher-style source filtering):
    per-source quality keep rate, predicted-English share, exact-dup
    share and mean length, with a source-level keep/drop gate — the
    grain where "this whole domain is boilerplate/duplicated/foreign"
    decisions get made, complementing [[curation_funnel]]'s corpus
    totals and per-doc filters. Composes the REGISTERED stage operators
    (doc_quality, lang_id, doc_fingerprint); the oracle embeds the same
    stages' SQL, so both sides stay consistent with the individually-
    oracled queries by construction. The Spark side shares the stages'
    COLUMN EXPRESSIONS (`_quality_exprs`/`_lang_exprs`/
    `_norm_text_expr`) instead of joining the stage DataFrames, so all
    three signals come off ONE scan of documents — at 100 TB that is
    1x the text I/O where a join-of-stages formulation pays 4x
    (asserted by a single-scan plan test).

    Ratios are integer permille per the exactness convention. The dup
    flag comes from a fingerprint-partitioned window count rather than
    a groupBy+join-back, so the lineage never branches (the
    multi-consumer re-scan trap in SCALE.md): one window shuffle on
    the fingerprint, one source-grain aggregate, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "n_chars",
        _quality_exprs()["keep"].alias("keep"),
        _lang_exprs()["predicted_lang"].alias("predicted_lang"),
        F.sha2(_norm_text_expr(), 256).alias("fingerprint"),
    )
    fp_n = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    flagged = base.withColumn("is_dup", fp_n > 1)
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "(1000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) div count(1)"
        ).alias("keep_permille"),
        F.expr(
            "(1000 * sum(CASE WHEN predicted_lang = 'en' THEN 1 ELSE 0 END))"
            " div count(1)"
        ).alias("en_permille"),
        F.expr(
            "(1000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END)) div count(1)"
        ).alias("dup_permille"),
        F.expr("sum(n_chars) div count(1)").alias("avg_chars"),
    )
    gate = (
        (F.col("keep_permille") >= 900)
        & (F.col("en_permille") >= 350)
        & (F.col("dup_permille") <= 100)
    )
    return per_source.select(
        "source",
        "n_docs",
        "keep_permille",
        "en_permille",
        "dup_permille",
        "avg_chars",
        gate.alias("source_kept"),
    )


def _source_rollup_sql() -> str:
    return f"""
    WITH q AS ({_QUALITY_SQL}),
    l AS ({_LANG_SQL}),
    f AS ({_FINGERPRINT_SQL}),
    base AS (
        SELECT d.doc_id, d.source, d.n_chars, q.keep, l.predicted_lang,
               f.fingerprint
        FROM documents d
        JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN f USING (doc_id)
    ),
    flagged AS (
        SELECT *, count(*) OVER (PARTITION BY fingerprint) > 1 AS is_dup
        FROM base
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST((1000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) // count(*)
                    AS BIGINT) AS keep_permille,
               CAST((1000 * sum(CASE WHEN predicted_lang = 'en'
                                     THEN 1 ELSE 0 END)) // count(*)
                    AS BIGINT) AS en_permille,
               CAST((1000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END)) // count(*)
                    AS BIGINT) AS dup_permille,
               CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars
        FROM flagged
        GROUP BY source
    )
    SELECT source, n_docs, keep_permille, en_permille, dup_permille,
           avg_chars,
           keep_permille >= 900 AND en_permille >= 350
               AND dup_permille <= 100 AS source_kept
    FROM per_source
    """


_VOCAB_GROWTH_BUCKETS = 10


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: corpus docs in doc_id order
    are cut into 10 equal-width buckets; each bucket reports how many
    word-TRIGRAM types appear there for the first time and the
    cumulative type count — the curve that tells a tokenizer-training
    run how fast new types keep arriving (sublinear growth ⇒
    diminishing returns per extra shard of data). Trigram types, not
    unigrams: the synthetic corpus has a ~31-word closed vocabulary
    that saturates in the first bucket, while trigram contexts keep
    growing — exactly why real tokenizer studies track n-gram growth.

    Scale shape: first occurrence is ``groupBy(type).agg(min(doc_id))``
    — ONE type-keyed shuffle with map-side combine (shuffled bytes ~
    vocabulary-sized, like `term_frequencies`); the doc_id range scalar
    rides a broadcast one-row crossJoin; bucketing is integer
    arithmetic (`first_doc · B div (max_id+1)` — exact on both
    engines); the cumulative sum runs over ≤B rows via the triangular
    self-join idiom, NEVER a global window (plan-audit invariant)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    first = tok.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    bound = docs.agg((F.max("doc_id") + 1).alias("maxp1"))
    per_bucket = (
        first.crossJoin(F.broadcast(bound))
        .select(
            F.expr(
                f"CAST(first_doc * {_VOCAB_GROWTH_BUCKETS} DIV maxp1 AS BIGINT)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    cum = (
        per_bucket.alias("a")
        .join(
            F.broadcast(per_bucket.alias("b")),
            F.col("b.bucket") <= F.col("a.bucket"),
        )
        .groupBy(F.col("a.bucket").alias("bucket"), F.col("a.new_types").alias("new_types"))
        .agg(F.sum("b.new_types").alias("vocab_size"))
    )
    return cum.select("bucket", "new_types", F.col("vocab_size").cast("bigint").alias("vocab_size"))


_VOCAB_GROWTH_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 3, 0) + 2),
                   i -> array_to_string(t[i : i + 2], ' ')
               ))) AS gram
        FROM t
    ),
    first AS (
        SELECT gram, min(doc_id) AS first_doc FROM tok GROUP BY gram
    ),
    bound AS (SELECT max(doc_id) + 1 AS maxp1 FROM documents),
    per_bucket AS (
        SELECT CAST(first_doc * {_VOCAB_GROWTH_BUCKETS} // maxp1 AS BIGINT)
                   AS bucket,
               count(*) AS new_types
        FROM first, bound
        GROUP BY 1
    )
    SELECT a.bucket, a.new_types,
           CAST(sum(b.new_types) AS BIGINT) AS vocab_size
    FROM per_bucket a JOIN per_bucket b ON b.bucket <= a.bucket
    GROUP BY a.bucket, a.new_types
"""


_SPAN_W = 20  # tokens per span (the Lee-et-al exact-substring dedup
# window, scaled to this corpus; 50 in the paper)
_SPAN_TOP = 20


def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-SUBSTRING dedup signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    ``_SPAN_W``-token sliding window, aggregated corpus-wide; spans
    seen in ≥2 distinct docs are the memorization-risk passages a
    span-level deduper would cut. Top-20 by occurrence count (ties on
    the span text) with per-span doc counts.

    Scale shape: windows explode map-side (≈ one row per token — the
    same fan-out a tokenizer pays), then ONE shuffle keyed on the span
    with map-side combine; the heavy tail of singleton spans dies in
    the partial aggregate. At 100 TB the group key would be a span
    HASH with the text resolved for the survivors only (same
    plan, narrower shuffle rows — documented, not needed at test SF).
    Top-N via TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    spans = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (_SPAN_W - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, _SPAN_W), " "),
    )
    exploded = docs.select("doc_id", F.explode(spans).alias("span"))
    # countDistinct here is ALREADY planned as the two-level aggregate
    # (partial by (span, doc_id), then by span — no Expand, each span
    # string crosses the exchange once): an explicit two-stage rewrite
    # was A/B'd in r16 and produced the IDENTICAL physical plan, so the
    # declarative form stays (plans/r16/repeated_spans_{before,after}).
    g = (
        exploded.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return (
        g.orderBy(F.col("n_occ").desc(), F.col("span").asc())
        .limit(_SPAN_TOP)
        .select(F.substring("span", 1, 60).alias("span_prefix"), "n_occ", "n_docs")
    )


_REPEATED_SPANS_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    w AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(t) - {_SPAN_W}, 0) + 2),
                   i -> array_to_string(t[i : i + {_SPAN_W - 1}], ' ')
               )) AS span
        FROM t
    ),
    g AS (
        SELECT span, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        FROM w GROUP BY span
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT substr(span, 1, 60) AS span_prefix, n_occ, n_docs
    FROM g
    ORDER BY n_occ DESC, span ASC
    LIMIT {_SPAN_TOP}
"""


# ---------------------------------------------------------------------------
# exact-substring dedup APPLIED (Lee et al. keep-first span removal)
# ---------------------------------------------------------------------------

_ESR_W = 8  # sliding-window width, tokens (Lee et al. use 50 on natural
# text; 8 matches this corpus's short synthetic docs so spans actually
# repeat — the width is the deployment knob, the plan is identical)


def exact_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup APPLIED — the ExactSubstr cut of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") that [[repeated_spans]] only *reports*: every
    ``_ESR_W``-token sliding window that occurs more than once in the
    corpus (cross-doc OR within-doc) keeps its FIRST occurrence
    (lexicographic (doc_id, position) — the keep-one semantics of the
    paper) and every other occurrence's token positions are removed;
    documents are rebuilt from their surviving tokens in order. Unlike
    [[chunk_dedup_rewrite]]'s aligned non-overlapping chunks, the
    sliding windows catch duplicated passages at ANY offset — the two
    operators are the aligned-cheap and unaligned-exact points of the
    same curation stage. Output = the affected slice: one row per doc
    that lost tokens, with removal counts and a rebuilt-text prefix
    (reassembly order rides the value hash).

    Scale shape: windows explode map-side (≈ one row per token, the
    fan-out a tokenizer pays); the first-occurrence argmin and the
    occurrence count reduce in ONE map-side-combined shuffle on the
    span key (argmin as min over the composite doc_id·10⁹+pos BIGINT —
    no unpartitioned window anywhere); duplicated occurrences come
    back from a join on the SAME span key (co-partitioned — exchange
    reuse); the position fan-out (×W) touches only duplicated
    occurrences; the rebuild shuffles (pos, token) pairs on doc_id for
    AFFECTED docs only. At 100 TB the span key narrows to xxhash64
    with text resolved only for survivors, exactly as documented on
    [[repeated_spans]]."""
    docs = load_table(spark, sf_dir, "documents")
    toks = plan_barrier(docs.select("doc_id", _tokens().alias("t")))
    # (doc_id, win_start 1-based, span) — slice clips, so a doc shorter
    # than W contributes one whole-doc window (repeated_spans parity)
    wins = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("t") - (_ESR_W - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice(F.col("t"), i, _ESR_W), " "),
            )
        ).alias("p0", "span"),
    ).select(
        "doc_id",
        "n_tok",
        (F.col("p0") + 1).alias("win_start"),
        "span",
    )
    wins = plan_barrier(wins)
    # first occurrence per duplicated span, as one map-side-combinable
    # integer argmin (positions and doc ids are far below 1e9 here; the
    # composite stays exact in BIGINT to ~9e9 docs)
    ckey = (F.col("doc_id") * F.lit(1_000_000_000) + F.col("win_start")).cast(
        "bigint"
    )
    dups = (
        wins.select("span", ckey.alias("ck"))
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("ck").alias("first_ck"))
        .where(F.col("n_occ") >= 2)
    )
    covered = (
        wins.join(dups, "span")
        .where(ckey != F.col("first_ck"))
        .select(
            "doc_id",
            "win_start",
            # window length clips at the doc tail
            F.least(
                F.lit(_ESR_W), F.col("n_tok") - F.col("win_start") + 1
            ).alias("wlen"),
        )
    )
    cov_pos = covered.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("win_start"), F.col("win_start") + F.col("wlen") - 1
            )
        ).alias("pos"),
    ).distinct()
    n_cut = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_windows")
    )
    pos_tok = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    affected = pos_tok.join(
        cov_pos.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    kept = affected.join(cov_pos, ["doc_id", "pos"], "left_anti")
    removed = affected.join(cov_pos, ["doc_id", "pos"], "left_semi")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos").alias("pos"),
                                F.col("tok").alias("tok"),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    n_removed = removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_removed")
    )
    return (
        n_removed.join(n_cut, "doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_dup_windows",
            "n_tokens_removed",
            F.substring(F.coalesce("rebuilt", F.lit("")), 1, 60).alias(
                "clean_prefix"
            ),
        )
        .orderBy("doc_id")
    )


_EXACT_SUBSTR_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    w AS (
        SELECT doc_id, len(t) AS n_tok, i AS win_start,
               array_to_string(t[i : i + {_ESR_W - 1}], ' ') AS span
        FROM t, unnest(range(1, greatest(len(t) - {_ESR_W - 1}, 1) + 1))
                AS u(i)
    ),
    dups AS (
        SELECT span, count(*) AS n_occ,
               min(doc_id * 1000000000 + win_start) AS first_ck
        FROM w GROUP BY span
        HAVING count(*) >= 2
    ),
    covered AS (
        SELECT w.doc_id, w.win_start,
               least({_ESR_W}, w.n_tok - w.win_start + 1) AS wlen
        FROM w JOIN dups d ON d.span = w.span
        WHERE w.doc_id * 1000000000 + w.win_start != d.first_ck
    ),
    cov_pos AS (
        SELECT DISTINCT doc_id,
               unnest(range(win_start, win_start + wlen)) AS pos
        FROM covered
    ),
    n_cut AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
        FROM covered GROUP BY doc_id
    ),
    pos_tok AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM t, unnest(range(1, len(t) + 1)) AS u(i)
        WHERE doc_id IN (SELECT doc_id FROM cov_pos)
    ),
    rebuilt AS (
        SELECT p.doc_id,
               coalesce(array_to_string(
                   list(p.tok ORDER BY p.pos ASC)
                       FILTER (WHERE c.pos IS NULL), ' '
               ), '') AS rebuilt,
               CAST(count(*) FILTER (WHERE c.pos IS NOT NULL) AS BIGINT)
                   AS n_tokens_removed
        FROM pos_tok p
        LEFT JOIN cov_pos c ON c.doc_id = p.doc_id AND c.pos = p.pos
        GROUP BY p.doc_id
    )
    SELECT r.doc_id, n.n_dup_windows, r.n_tokens_removed,
           substr(r.rebuilt, 1, 60) AS clean_prefix
    FROM rebuilt r JOIN n_cut n ON n.doc_id = r.doc_id
    ORDER BY r.doc_id
"""


# ---------------------------------------------------------------------------
# cross-corpus boilerplate-chunk removal (corpus REWRITE, not a report)
# ---------------------------------------------------------------------------

_CDR_W = 8  # chunk width, tokens (non-overlapping grain)
_CDR_MIN_DOCS = 2  # a chunk in >= this many distinct docs is boilerplate


def _chunk_marked(docs: DataFrame) -> DataFrame:
    """``(doc_id, pos, chunk, is_dup)`` — the shared chunking +
    boilerplate-marking kernel behind [[chunk_dedup_rewrite]] and the
    rewrite stage of [[curation_pipeline_end_to_end]]: consecutive
    non-overlapping ``_CDR_W``-token chunks, marked boilerplate when
    the exact chunk text appears in >= ``_CDR_MIN_DOCS`` distinct docs
    OF THE GIVEN FRAME (full corpus for the registered query, the
    surviving slice inside the pipeline). One chunk-key shuffle with
    map-side combine; marking re-joins on the same key (exchange
    reuse)."""
    toks = _tokens()
    n_chunks = F.expr(f"CAST((size(t) + {_CDR_W - 1}) div {_CDR_W} AS INT)")
    chunks = docs.select("doc_id", toks.alias("t")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("t"), i * _CDR_W + 1, _CDR_W), " "
                ),
            )
        ).alias("pos", "chunk"),
    )
    chunks = plan_barrier(chunks)
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= _CDR_MIN_DOCS)
        .select("chunk", F.lit(True).alias("is_dup"))
    )
    return chunks.join(boiler, "chunk", "left").select(
        "doc_id",
        "pos",
        "chunk",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


def _rebuilt_agg() -> Column:
    """Aggregate Column reassembling a document from its surviving
    (non-boilerplate) chunks in original order — shared by
    [[chunk_dedup_rewrite]] and the pipeline rewrite stage. Empty when
    every chunk was boilerplate."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.col("is_dup"),
                        F.struct(
                            F.col("pos").alias("pos"),
                            F.col("chunk").alias("chunk"),
                        ),
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )


def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-chunk REMOVAL with document reassembly — the C4 /
    RefinedWeb curation step [[repeated_spans]] only *reports*: split
    every document into consecutive non-overlapping ``_CDR_W``-token
    chunks, mark any chunk whose exact text appears in >=
    ``_CDR_MIN_DOCS`` distinct documents as boilerplate (nav bars,
    cookie banners, license headers in real corpora), then REWRITE each
    document by dropping those chunks and re-joining the survivors in
    original order. Output = the affected slice of the cleaned corpus:
    one row per document that lost at least one chunk, with chunk/token
    removal counts and a prefix of the rebuilt text (the prefix flows
    through the value hash, so reassembly ORDER is oracle-verified).

    Scale shape: chunking is a narrow map (one row per W tokens — W x
    cheaper fan-out than [[repeated_spans]]' per-token windows); the
    boilerplate set comes from ONE chunk-key shuffle with map-side
    combine (singleton chunks die in the partial agg); marking is a
    shuffle hash join back on the same chunk key (co-partitioned with
    the agg — AQE reuses the exchange); reassembly is a doc_id-key
    shuffle of (pos, kept-chunk) pairs, never the raw text. At 100 TB
    the join key would be xxhash64(chunk) with text resolved only for
    survivors (same plan, narrower shuffle rows — as documented on
    [[repeated_spans]]); boilerplate is a HAVING-filtered aggregate, so
    no corpus-sized broadcast anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    marked = _chunk_marked(docs)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.sum(
                F.when(F.col("is_dup"), F.size(F.split(F.col("chunk"), " ")))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_tokens_removed"),
            _rebuilt_agg().alias("rebuilt"),
        )
        .where(F.col("n_removed") >= 1)
        .select(
            "doc_id",
            "n_chunks",
            "n_removed",
            "n_tokens_removed",
            F.substring("rebuilt", 1, 60).alias("clean_prefix"),
        )
        .orderBy("doc_id")
    )


_CHUNK_DEDUP_REWRITE_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               i AS pos,
               array_to_string(
                   t[i * {_CDR_W} + 1 : i * {_CDR_W} + {_CDR_W}], ' '
               ) AS chunk
        FROM t, unnest(range(0, (len(t) + {_CDR_W - 1}) // {_CDR_W})) AS u(i)
    ),
    b AS (
        SELECT chunk
        FROM c GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= {_CDR_MIN_DOCS}
    ),
    m AS (
        SELECT c.doc_id, c.pos, c.chunk,
               (b.chunk IS NOT NULL) AS is_dup
        FROM c LEFT JOIN b USING (chunk)
    ),
    g AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               CAST(sum(CASE WHEN is_dup
                             THEN len(string_split(chunk, ' '))
                             ELSE 0 END) AS BIGINT) AS n_tokens_removed,
               coalesce(array_to_string(
                   list(chunk ORDER BY pos ASC)
                       FILTER (WHERE NOT is_dup), ' '
               ), '') AS rebuilt
        FROM m GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_removed, n_tokens_removed,
           substr(rebuilt, 1, 60) AS clean_prefix
    FROM g
    WHERE n_removed >= 1
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# model-based quality filtering (hashing-trick linear classifier)
# ---------------------------------------------------------------------------

_QC_VOCAB_N = 512  # model vocabulary (top corpus tokens)
_QC_WEIGHT_SPAN = 2001  # weights land in [-1000, 1000]


def _qc_weight(token: Column) -> Column:
    """Deterministic integer weight in [-1000, 1000] for a vocab token:
    a positional ascii fold of the token's sha256 hex prefix, mod the
    span. Portable by construction (``ascii``/``substring``/``%`` agree
    across engines — no hex→int parse, the same dodge as the minhash
    slices). Stands in for an exported fasttext/logistic weight vector;
    the APPLY mechanics (broadcast model, map-side dot product, integer
    margins) are the real artifact."""
    h = F.sha2(token, 256)
    folded = sum(
        (F.ascii(F.substring(h, i, 1)) * F.lit(i)) for i in range(1, 17)
    )
    return (folded % F.lit(_QC_WEIGHT_SPAN)) - F.lit(1000)


def _qc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document linear-classifier scores — the shared apply pass
    under [[quality_classifier_score]] (per-source rollup) and
    [[preference_pairs]] (DPO pair mining): (doc_id, source, n_toks,
    score_milli) with ``score_milli = (1000·margin) div n_toks``
    (truncating div, portable). See ``quality_classifier_score`` for
    the model and plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.transform(_tokens(), lambda w: F.lower(w)).alias("toks"),
    )
    exploded = toks.select(
        "doc_id", F.explode("toks").alias("token")
    )
    vocab = (
        exploded.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(_QC_VOCAB_N)
        .select("token", _qc_weight(F.col("token")).alias("wt"))
    )
    margins = (
        exploded.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(F.sum("wt").alias("margin"))
    )
    return (
        toks.select(
            "doc_id",
            "source",
            F.greatest(F.size("toks"), F.lit(1)).alias("n_toks"),
        )
        .join(margins, "doc_id", "left")
        .withColumn("margin", F.coalesce(F.col("margin"), F.lit(0)))
        .withColumn("score_milli", F.expr("CAST((1000 * margin) div n_toks AS BIGINT)"))
    )


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fasttext-style linear
    classifier pass every production curation pipeline runs after the
    heuristic filters (``doc_quality``): score each document with a
    linear model over token features, threshold into a keep decision,
    and roll keep rates up per source.

    Model = top-``_QC_VOCAB_N`` corpus tokens (count desc, token asc —
    deterministic at the boundary) with integer weights (`_qc_weight`).
    Doc margin = sum of matched token weights, normalized per token:
    ``score_milli = (1000 * margin) div n_tokens`` (``div`` truncates
    toward zero in BOTH engines, verified — negative margins safe).
    Keep ⇔ margin ≥ 0.

    Plan: vocab build is one token-key shuffle with map-side combine +
    TakeOrderedAndProject (the offline model-training pass — at 100 TB
    this ships as a precomputed artifact; here it derives from the same
    corpus for a closed oracle). Apply is explode → BROADCAST hash join
    against the 512-row model → doc-key partial-agg shuffle → source
    rollup. The corpus text is scanned twice (train + apply) by
    design — the production apply path alone scans once.
    """
    return (
        _qc_scores(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score_milli") >= 0, 1).otherwise(0)).alias(
                "kept_docs"
            ),
            F.expr(
                "(1000 * sum(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END))"
                " div count(1)"
            ).alias("keep_permille"),
            F.expr("sum(score_milli) div count(1)").alias("avg_score_milli"),
        )
    )


def _qc_per_doc_ctes() -> str:
    """Shared CTE chain ending at ``per_doc(doc_id, source,
    score_milli)`` — the oracle twin of ``_qc_scores``, reused by the
    quality rollup and the preference-pair miner."""
    fold = " + ".join(
        f"ascii(substr(h, {i}, 1)) * {i}" for i in range(1, 17)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, source,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                              w -> lower(w)) AS t
        FROM documents
    ),
    exploded AS (SELECT doc_id, unnest(t) AS token FROM toks),
    vocab AS (
        SELECT token, count(*) AS cnt FROM exploded GROUP BY token
        ORDER BY cnt DESC, token LIMIT {_QC_VOCAB_N}
    ),
    w AS (
        SELECT token,
               (({fold}) % {_QC_WEIGHT_SPAN}) - 1000 AS wt
        FROM (SELECT token, sha256(token) AS h FROM vocab)
    ),
    margins AS (
        SELECT e.doc_id, CAST(sum(w.wt) AS BIGINT) AS margin
        FROM exploded e JOIN w USING (token) GROUP BY e.doc_id
    ),
    per_doc AS (
        SELECT t.doc_id, t.source,
               CAST((1000 * coalesce(m.margin, 0))
                    // greatest(len(t.t), 1) AS BIGINT) AS score_milli
        FROM toks t LEFT JOIN margins m USING (doc_id)
    )"""


def _qc_sql() -> str:
    return rf"""{_qc_per_doc_ctes()}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (score_milli >= 0) AS BIGINT) AS kept_docs,
           (1000 * count(*) FILTER (score_milli >= 0)) // count(*)
               AS keep_permille,
           CAST(sum(score_milli) AS BIGINT) // count(*) AS avg_score_milli
    FROM per_doc
    GROUP BY source
"""


_QC_SQL = _qc_sql()


# ---------------------------------------------------------------------------
# BM25 top terms (portable-ln IDF)
# ---------------------------------------------------------------------------

_BM25_K1 = "1.2e0"  # term-frequency saturation
_BM25_TOP = 3

#: Robertson–Sparck-Jones idf argument (N − df + ½)/(df + ½) — always
#: > 0, negative log for terms in more than half the corpus (classic
#: BM25 keeps the sign). Shared text; every float op is basic IEEE.
_BM25_IDF_ARG = (
    "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)"
    " / (CAST(df AS DOUBLE) + 0.5e0))"
)
#: tf saturation × length normalization, b = 0.75 (1−b written as the
#: exact literal 0.25). avgdl is the deterministic double quotient of
#: two exact bigints.
_BM25_TF_PART = (
    f"((CAST(tf AS DOUBLE) * (1.0e0 + {_BM25_K1}))"
    f" / (CAST(tf AS DOUBLE) + {_BM25_K1} * (0.25e0 + 0.75e0"
    " * (CAST(dl AS DOUBLE)"
    " / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
)


def _bm25_score_sql() -> str:
    from ..functions import ln_from_kz_sql

    idf = ln_from_kz_sql("__ln_k", "__ln_z")
    return f"CAST(floor({idf} * {_BM25_TF_PART} * 1.0e6) AS BIGINT)"


def bm25_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} BM25 terms per document (k1 = 1.2, b = 0.75) — the
    retrieval-grade keyword extractor next to `doc_tfidf_topterms`,
    and the first consumer of the engine's PORTABLE LOGARITHM
    (functions.ln_k_sql family): the idf ln((N−df+½)/(df+½)) is rebuilt
    from IEEE basic ops — exact power-of-two range reduction (exponent
    CASE over exact literals, mantissa via exact 2⁻ᵏ multiply) plus a
    truncated atanh series — so the score is bit-identical across
    engines BY CONSTRUCTION, where `unigram_surprisal`'s libm log
    relies on an empirically-probed floor parity.

    Shape: one (doc, token) shuffle for tf; dl and df re-aggregate from
    the checkpointed tf table (corpus is never re-scanned); scalars
    broadcast; the idf/tf arithmetic is a narrow codegen projection;
    top-k per doc is a window bounded by per-doc vocabulary. At 100 TB
    the df join keys on the token — high-cardinality, map-side-combined
    — the same scale story as `term_frequencies`."""
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .where(F.length("token") > 0)
        .select("doc_id", F.lower("token").alias("token"))
    )
    tf = rounds.cut(
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # feeds dl, df, tot_tokens, and the join
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scalars = (
        docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(tf.agg(F.sum("tf").cast("bigint").alias("tot_tokens")))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "token")
        .crossJoin(F.broadcast(scalars))
        .withColumn("__ln_k", F.expr(ln_k_sql(_BM25_IDF_ARG)))
        .withColumn("__ln_m", F.expr(ln_m_sql(_BM25_IDF_ARG, "__ln_k")))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn("bm25_micro", F.expr(_bm25_score_sql()))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25_micro"), "token")
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("term_rank") <= _BM25_TOP)
        .select("doc_id", "token", "tf", "bm25_micro", "term_rank")
    )


bm25_topterms.__doc__ = bm25_topterms.__doc__.format(top=_BM25_TOP)


def _bm25_sql() -> str:
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    return rf"""
    WITH tok AS (
        SELECT doc_id, lower(token) AS token
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents
        )
        WHERE length(token) > 0
    ),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY ALL
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    sc AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS tot_tokens
    ),
    base AS (
        SELECT tf.doc_id, tf.token, tf.tf, dl.dl, df.df,
               sc.n_docs, sc.tot_tokens
        FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN sc
    ),
    s1 AS (SELECT *, {ln_k_sql(_BM25_IDF_ARG)} AS __ln_k FROM base),
    s2 AS (SELECT *, {ln_m_sql(_BM25_IDF_ARG, "__ln_k")} AS __ln_m FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2),
    scored AS (
        SELECT doc_id, token, tf, {_bm25_score_sql()} AS bm25_micro
        FROM s3
    ),
    ranked AS (
        SELECT doc_id, token, tf, bm25_micro,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY bm25_micro DESC, token
               ) AS BIGINT) AS term_rank
        FROM scored
    )
    SELECT doc_id, token, tf, bm25_micro, term_rank
    FROM ranked WHERE term_rank <= {_BM25_TOP}
"""


_BM25_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# full BM25 document retrieval (query -> corpus top-k)
# ---------------------------------------------------------------------------

_BM25R_N_QUERIES = 5  # doc_id < this are the query documents
_BM25R_TOP_K = 10


def _bm25_per_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_id, token, bm25_micro) table over word-bigram
    shingles — the scoring substrate under [[bm25_retrieval_topk]] and
    [[prf_query_expansion]]: one (doc, shingle) shuffle for tf
    (checkpointed; dl/df/totals re-aggregate from it), df-capped
    posting lists, idf via the portable ln, per-term scores floored to
    integer micro-units. Memoized: its consumers (bm25_retrieval_topk,
    prf_query_expansion, rag_context_pack and the retrieval-eval
    queries built on them) each checkpointed an identical copy — "the
    index is materialized once"."""
    return memo.shared(
        "bm25_terms",
        spark,
        sf_dir,
        lambda _keep: _build_bm25_per_term(spark, sf_dir),
    )


def _build_bm25_per_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), _WS)
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.explode(bigrams).alias("token")
    )
    tf = rounds.cut(
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # dl/df/totals re-aggregate from this
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scalars = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).crossJoin(tf.agg(F.sum("tf").cast("bigint").alias("tot_tokens")))
    per_term = rounds.cut(
        tf.join(dl, "doc_id")
        .join(dfreq, "token")
        .crossJoin(F.broadcast(scalars))
        .where(F.col("df") * 2 <= F.col("n_docs"))
        .withColumn("__ln_k", F.expr(ln_k_sql(_BM25_IDF_ARG)))
        .withColumn("__ln_m", F.expr(ln_m_sql(_BM25_IDF_ARG, "__ln_k")))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .select("doc_id", "token", F.expr(_bm25_score_sql()).alias("bm25_micro"))
        # feeds query side, corpus side, PRF feedback
    )
    # per_term is materialized; free the intermediate tf cut now.
    rounds.release(tf)
    return per_term


def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 DOCUMENT RETRIEVAL — the lexical ranking function
    itself (Robertson k1 = 1.2, b = 0.75 with document-length
    normalization), completing the stack around [[bm25_topterms]] (which
    extracts keywords, not rankings) and [[sparse_retrieval_topk]]
    (TF-IDF dot): each query document scores the corpus by
    Σ_shared-terms bm25(term, doc), terms being word-bigram shingles
    (the unigram space saturates on this vocabulary — same Lucene
    shingle-filter move as the TF-IDF leg).

    Exactness: the idf uses the engine-portable ln, and each per-term
    score is FLOORED to integer micro-units before the per-(query, doc)
    sum — so the total is an order-free exact integer sum, bit-identical
    cross-engine (summing raw doubles would be partition-order
    dependent).

    Scale shape: one (doc, shingle) shuffle builds tf (checkpointed —
    dl, df, and the totals re-aggregate from it, corpus never
    re-scanned); the only retrieval join is the posting-list equi-join
    on the term key with the query terms BROADCAST, so cost per query =
    Σ posting-list lengths, bounded by the df·2 ≤ N near-stopword cap
    (which also keeps the Robertson idf non-negative) — never a corpus
    scan per query. Top-k per query is a bounded window."""
    per_term = _bm25_per_term(spark, sf_dir)
    qterms = (
        per_term.where(F.col("doc_id") < _BM25R_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    scored = (
        per_term.join(F.broadcast(qterms), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("bm25_micro").cast("bigint").alias("bm25_sum_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_sum_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _BM25R_TOP_K)
        .select("query_id", "rank", "doc_id", "bm25_sum_micro")
    )


def _bm25_core_ctes() -> str:
    """Shared DuckDB CTE chain mirroring ``_bm25_per_term`` plus the
    query-term set and the first-pass retrieval scores: defines
    ``per_term``, ``qterms``, and ``scored`` — consumed by the
    retrieval oracle and the PRF expansion oracle."""
    from ..functions import LN_Z_SQL, ln_k_sql, ln_m_sql

    return rf"""tok AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS token
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents
        )
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY ALL
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    sc AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS tot_tokens
    ),
    base AS (
        SELECT tf.doc_id, tf.token, tf.tf, dl.dl, dfr.df,
               sc.n_docs, sc.tot_tokens
        FROM tf JOIN dl USING (doc_id) JOIN dfr USING (token) CROSS JOIN sc
        WHERE dfr.df * 2 <= sc.n_docs
    ),
    s1 AS (SELECT *, {ln_k_sql(_BM25_IDF_ARG)} AS __ln_k FROM base),
    s2 AS (SELECT *, {ln_m_sql(_BM25_IDF_ARG, "__ln_k")} AS __ln_m FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2),
    per_term AS MATERIALIZED (
        SELECT doc_id, token, {_bm25_score_sql()} AS bm25_micro
        FROM s3
    ),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, token
        FROM per_term WHERE doc_id < {_BM25R_N_QUERIES}
    ),
    scored AS MATERIALIZED (
        SELECT q.query_id, p.doc_id,
               CAST(sum(p.bm25_micro) AS BIGINT) AS bm25_sum_micro
        FROM per_term p
        JOIN qterms q ON p.token = q.token AND p.doc_id != q.query_id
        GROUP BY q.query_id, p.doc_id
    )"""


def _bm25_retrieval_sql() -> str:
    return f"""
    WITH {_bm25_core_ctes()}
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY bm25_sum_micro DESC, doc_id ASC)
                AS BIGINT) AS rank,
           doc_id, bm25_sum_micro
    FROM scored
    QUALIFY rank <= {_BM25R_TOP_K}
"""


_BM25_RETRIEVAL_SQL = _bm25_retrieval_sql()


# ---------------------------------------------------------------------------
# graded retrieval evaluation (NDCG@k)
# ---------------------------------------------------------------------------

# 1e6 / log2(rank + 1) floored to integer micro-units — the DCG discount
# weights as SPEC CONSTANTS (computed once here, embedded as identical
# literals in the Spark plan and the SQL oracle, the BM25-k1/b idiom) so
# no transcendental function runs at query time and the DCG sum is an
# order-free exact integer on both engines.
import math as _math

_NDCG_W = tuple(
    _math.floor(1_000_000 / _math.log2(r + 1))
    for r in range(1, _BM25R_TOP_K + 1)
)
# graded relevance from query-unigram containment (integer permille)
_NDCG_GRADE_BOUNDS = ((750, 7), (500, 3), (250, 1))  # (min permille, 2^rel-1)


def _ndcg_idcg_terms() -> str:
    """Engine-shared SQL expression for the FULL-POOL ideal DCG@k.

    Because gains take only the four values {0, 1, 3, 7}, the ideal
    ranking of the entire judged pool is determined by the per-query
    gain HISTOGRAM (n7/n3/n1 = how many pool docs grade 7/3/1): the
    ideal list is n7 sevens, then n3 threes, then n1 ones. So
    IDCG@k = Σ_{r=1..k} w_r · gain_at_rank_r unrolls to a constant
    k-term expression over (n7, n3, n1) — no per-query corpus sort.
    Embedded verbatim in both the Spark plan and the DuckDB oracle."""
    terms = " + ".join(
        f"{w} * (CASE WHEN {r} <= n7 THEN 7"
        f" WHEN {r} <= n7 + n3 THEN 3"
        f" WHEN {r} <= n7 + n3 + n1 THEN 1 ELSE 0 END)"
        for r, w in enumerate(_NDCG_W, start=1)
    )
    return f"CAST({terms} AS BIGINT)"


def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the [[bm25_retrieval_topk]] ranking against a
    deterministic graded-relevance truth — the standard ranking-quality
    measurement a retrieval stack reports (Järvinen & Kekäläinen 2002),
    completing the eval suite around [[ann_recall_check]] (set overlap,
    ungraded) and [[retrieval_rank_agreement]] (inter-retriever, no
    truth). Relevance grade = query-unigram containment of the
    candidate in integer permille, bucketed to gains 2^rel−1 ∈
    {0,1,3,7}; DCG discounts are the module-constant integer
    micro-weights ``_NDCG_W`` (see comment), so DCG, ideal DCG, and
    NDCG are all exact integers — bit-identical cross-engine with no
    float anywhere.

    IDCG is the STANDARD full-pool ideal (r12 advice): every retrievable
    document (doc_id != query_id) is graded, and IDCG@k is the discounted
    sum of the k best gains in that whole pool — so a ranking that never
    retrieves the high-gain documents is penalized (NDCG < 1000), unlike
    the retrieved-permutation variant. Because gains take only four
    values, the full-pool ideal reduces to a per-query gain histogram
    (see ``_ndcg_idcg_terms``): ONE corpus × |Q| pass with the query
    unigram sets broadcast and a map-side-combinable 3-counter groupBy —
    no per-query corpus sort, no new shuffle of corpus-sized data.

    Scale shape: the corpus-sized work is the BM25 leg (reused
    wholesale — posting-list equi-join, broadcast query terms) plus the
    single histogram pass above; the observed-DCG side joins the |Q|·k
    retrieved rows back to their token arrays (doc_id join) against the
    same broadcast query sets. Per-crawl-increment eval cost is one
    corpus scan — the same order as the BM25 index build it gates."""
    docs = load_table(spark, sf_dir, "documents")
    uni = docs.select(
        "doc_id",
        F.array_distinct(
            F.split(F.trim(F.lower(F.col("text"))), _WS)
        ).alias("u"),
    )
    hits = bm25_retrieval_topk(spark, sf_dir).select(
        "query_id", "rank", "doc_id"
    )
    qsets = uni.where(F.col("doc_id") < _BM25R_N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("u").alias("qu")
    )
    cont = F.expr(
        "CAST(1000 * size(array_intersect(u, qu))"
        " div greatest(size(qu), 1) AS BIGINT)"
    )
    gain = F.when(F.lit(False), 0)
    for bound, g in _NDCG_GRADE_BOUNDS:
        gain = gain.when(F.col("cont") >= bound, g)
    gain = gain.otherwise(0)
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    graded = (
        hits.join(uni, "doc_id")
        .join(F.broadcast(qsets), "query_id")
        .select("query_id", "rank", cont.alias("cont"))
        .withColumn("gain", gain.cast("bigint"))
    )
    weighted = graded.select(
        "query_id",
        "gain",
        (F.col("gain") * F.element_at(w_arr, F.col("rank").cast("int"))).alias(
            "dcg_term"
        ),
    )
    # full judged pool: grade EVERY retrievable doc per query, reduce to
    # the gain histogram (n7/n3/n1) that determines the ideal top-k
    pool = (
        uni.crossJoin(F.broadcast(qsets))
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", cont.alias("cont"))
        .withColumn("gain", gain.cast("bigint"))
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("gain") == 7, 1).otherwise(0))
            .cast("bigint")
            .alias("n7"),
            F.sum(F.when(F.col("gain") == 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n3"),
            F.sum(F.when(F.col("gain") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        )
    )
    idcg = pool.select(
        "query_id", F.expr(_ndcg_idcg_terms()).alias("idcg_micro")
    )
    agg = (
        weighted.groupBy("query_id")
        .agg(
            F.sum("dcg_term").cast("bigint").alias("dcg_micro"),
            F.count(F.when(F.col("gain") > 0, 1)).cast("bigint").alias(
                "n_relevant"
            ),
        )
        .join(idcg, "query_id")
    )
    return agg.select(
        "query_id",
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "CAST(CASE WHEN idcg_micro > 0"
            " THEN (1000 * dcg_micro) div idcg_micro"
            " ELSE 0 END AS BIGINT)"
        ).alias("ndcg_permille"),
        "n_relevant",
    )


def _ndcg_sql() -> str:
    w_list = ", ".join(str(w) for w in _NDCG_W)
    grade = " ".join(
        f"WHEN cont >= {b} THEN {g}" for b, g in _NDCG_GRADE_BOUNDS
    )
    return f"""
    WITH {_bm25_core_ctes()},
    hits AS (
        SELECT query_id, rank, doc_id FROM (
            SELECT query_id, doc_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY bm25_sum_micro DESC, doc_id ASC)
                        AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {_BM25R_TOP_K}
    ),
    uni AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(lower(text)),
                                                   '\\s+')) AS u
        FROM documents
    ),
    graded AS (
        SELECT h.query_id, h.rank,
               CAST(CASE {grade} ELSE 0 END AS BIGINT) AS gain
        FROM (
            SELECT h.query_id, h.rank,
                   1000 * len(list_intersect(du.u, qu.u))
                       // greatest(len(qu.u), 1) AS cont
            FROM hits h
            JOIN uni du ON du.doc_id = h.doc_id
            JOIN uni qu ON qu.doc_id = h.query_id
        ) h
    ),
    weighted AS (
        SELECT query_id, gain,
               gain * ([{w_list}])[rank] AS dcg_term
        FROM graded
    ),
    pool AS (
        SELECT query_id,
               CAST(CASE {grade} ELSE 0 END AS BIGINT) AS gain
        FROM (
            SELECT qu.doc_id AS query_id,
                   1000 * len(list_intersect(du.u, qu.u))
                       // greatest(len(qu.u), 1) AS cont
            FROM uni du
            JOIN uni qu ON qu.doc_id < {_BM25R_N_QUERIES}
                       AND du.doc_id != qu.doc_id
        )
    ),
    hist AS (
        SELECT query_id,
               CAST(count(*) FILTER (gain = 7) AS BIGINT) AS n7,
               CAST(count(*) FILTER (gain = 3) AS BIGINT) AS n3,
               CAST(count(*) FILTER (gain = 1) AS BIGINT) AS n1
        FROM pool GROUP BY query_id
    ),
    idcg AS (
        SELECT query_id, {_ndcg_idcg_terms()} AS idcg_micro FROM hist
    ),
    dcg AS (
        SELECT query_id,
               CAST(sum(dcg_term) AS BIGINT) AS dcg_micro,
               CAST(count(*) FILTER (gain > 0) AS BIGINT) AS n_relevant
        FROM weighted
        GROUP BY query_id
    )
    SELECT d.query_id, d.dcg_micro, i.idcg_micro,
           CAST(CASE WHEN i.idcg_micro > 0
                THEN (1000 * d.dcg_micro) // i.idcg_micro
                ELSE 0 END AS BIGINT) AS ndcg_permille,
           d.n_relevant
    FROM dcg d JOIN idcg i USING (query_id)
"""


_NDCG_SQL = _ndcg_sql()


# ---------------------------------------------------------------------------
# pseudo-relevance-feedback query expansion (RM3-style term mining)
# ---------------------------------------------------------------------------

_PRF_FB_K = 5  # feedback depth: top docs per query mined for terms
_PRF_EXP_N = 5  # expansion terms returned per query


def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 recipe): run
    the BM25 first pass, take each query's top-``_PRF_FB_K`` documents
    as assumed-relevant feedback, and mine the terms that characterize
    that feedback set — the highest-BM25 terms OF those documents that
    the query does NOT already contain — as expansion candidates. The
    second-pass retrieval is then just [[bm25_retrieval_topk]] over the
    union term set; the distributed work worth oracling is the mining.

    Exactness: feedback scores sum the already-floored integer
    micro-unit per-term scores — order-free-exact, same discipline as
    the retrieval sum. Scale shape: the feedback set is |Q|·K doc ids
    (driver never sees it — it stays a DataFrame joined back on
    doc_id); candidate terms are the feedback docs' posting rows only;
    the query's own terms are excluded with a broadcast anti-join; the
    final top-N is a bounded per-query window. Everything downstream
    of the (checkpointed) per-term table is candidate-bounded."""
    per_term = _bm25_per_term(spark, sf_dir)
    qterms = (
        per_term.where(F.col("doc_id") < _BM25R_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    scored = (
        per_term.join(F.broadcast(qterms), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("bm25_micro").cast("bigint").alias("bm25_sum_micro"))
    )
    w_fb = Window.partitionBy("query_id").orderBy(
        F.col("bm25_sum_micro").desc(), F.col("doc_id").asc()
    )
    fb = (
        scored.withColumn("rank", F.row_number().over(w_fb))
        .where(F.col("rank") <= _PRF_FB_K)
        .select("query_id", "doc_id")
    )
    cand = (
        per_term.join(fb, "doc_id")
        .join(F.broadcast(qterms), ["query_id", "token"], "left_anti")
        .groupBy("query_id", "token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fb_docs"),
            F.sum("bm25_micro").cast("bigint").alias("fb_score_micro"),
        )
    )
    w_exp = Window.partitionBy("query_id").orderBy(
        F.col("fb_score_micro").desc(), F.col("token").asc()
    )
    return (
        cand.withColumn("exp_rank", F.row_number().over(w_exp).cast("bigint"))
        .where(F.col("exp_rank") <= _PRF_EXP_N)
        .select("query_id", "exp_rank", "token", "n_fb_docs", "fb_score_micro")
    )


def _prf_sql() -> str:
    return f"""
    WITH {_bm25_core_ctes()},
    fb AS MATERIALIZED (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25_sum_micro DESC, doc_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_PRF_FB_K}
    ),
    cand AS (
        SELECT f.query_id, p.token,
               CAST(count(*) AS BIGINT) AS n_fb_docs,
               CAST(sum(p.bm25_micro) AS BIGINT) AS fb_score_micro
        FROM per_term p
        JOIN fb f ON f.doc_id = p.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM qterms q
                          WHERE q.query_id = f.query_id
                            AND q.token = p.token)
        GROUP BY f.query_id, p.token
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY fb_score_micro DESC, token ASC)
                AS BIGINT) AS exp_rank,
           token, n_fb_docs, fb_score_micro
    FROM cand
    QUALIFY exp_rank <= {_PRF_EXP_N}
"""


_PRF_SQL = _prf_sql()


# ---------------------------------------------------------------------------
# RAG context assembly (retrieve -> chunk -> pack a token budget)
# ---------------------------------------------------------------------------

_RAG_FB_K = 3  # retrieved docs per query feeding the context
_RAG_CHUNK_W = 32  # chunk grain, tokens
_RAG_BUDGET = 96  # context-window token budget per query


def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG CONTEXT ASSEMBLY — the retrieval-augmented-generation data
    path end-to-end: BM25-retrieve the top-``_RAG_FB_K`` documents per
    query, split them into ``_RAG_CHUNK_W``-token chunks, and PACK
    chunks into the query's context window in (retrieval rank, chunk
    position) order until the ``_RAG_BUDGET``-token budget is exhausted
    — whole chunks only, the truncation rule a serving stack actually
    uses. One row per packed chunk with its running token total; the
    chunk-text prefix flows through the value hash, so packing ORDER
    and content are both oracle-verified.

    Scale shape: retrieval is the df-capped posting-list join (the
    [[bm25_retrieval_topk]] plan); ONLY the |Q|·K retrieved docs are
    chunked (join back on doc_id — the corpus is never re-chunked);
    the pack is a per-query running sum over ≤ K·(len/W) rows — a
    window bounded by the retrieval depth, never corpus-sized."""
    per_term = _bm25_per_term(spark, sf_dir)
    qterms = (
        per_term.where(F.col("doc_id") < _BM25R_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    w_fb = Window.partitionBy("query_id").orderBy(
        F.col("bm25_sum_micro").desc(), F.col("doc_id").asc()
    )
    fb = (
        per_term.join(F.broadcast(qterms), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("bm25_micro").cast("bigint").alias("bm25_sum_micro"))
        .withColumn("rank", F.row_number().over(w_fb).cast("bigint"))
        .where(F.col("rank") <= _RAG_FB_K)
        .select("query_id", "doc_id", "rank")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_chunks = F.expr(
        f"CAST((size(t) + {_RAG_CHUNK_W - 1}) div {_RAG_CHUNK_W} AS INT)"
    )
    chunks = docs.join(fb.select("doc_id").distinct(), "doc_id").select(
        "doc_id", toks.alias("t")
    ).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("t"), i * _RAG_CHUNK_W + 1, _RAG_CHUNK_W),
                    " ",
                ),
            )
        ).alias("pos", "chunk"),
    )
    w_pack = (
        Window.partitionBy("query_id")
        .orderBy(F.col("rank").asc(), F.col("pos").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_order = Window.partitionBy("query_id").orderBy(
        F.col("rank").asc(), F.col("pos").asc()
    )
    packed = (
        fb.join(chunks, "doc_id")
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            "chunk",
            F.size(F.split(F.col("chunk"), " ")).cast("bigint").alias(
                "n_chunk_tokens"
            ),
        )
        .withColumn("cum_tokens", F.sum("n_chunk_tokens").over(w_pack))
        .where(F.col("cum_tokens") <= _RAG_BUDGET)
    )
    return packed.select(
        "query_id",
        F.row_number().over(w_order).cast("bigint").alias("ctx_order"),
        "doc_id",
        "rank",
        "pos",
        "n_chunk_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.substring("chunk", 1, 30).alias("chunk_prefix"),
    ).orderBy("query_id", "ctx_order")


_RAG_PACK_SQL = rf"""
    WITH {{core}},
    fb AS MATERIALIZED (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY bm25_sum_micro DESC, doc_id ASC)
                        AS BIGINT) AS rank
            FROM scored)
        WHERE rank <= {_RAG_FB_K}
    ),
    t AS (
        SELECT d.doc_id, regexp_split_to_array(trim(d.text), '\s+') AS t
        FROM documents d
        WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM fb)
    ),
    c AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS pos,
               array_to_string(
                   t[i * {_RAG_CHUNK_W} + 1 : i * {_RAG_CHUNK_W}
                     + {_RAG_CHUNK_W}], ' '
               ) AS chunk
        FROM t, unnest(range(0, (len(t) + {_RAG_CHUNK_W - 1})
                                // {_RAG_CHUNK_W})) AS u(i)
    ),
    packed AS (
        SELECT f.query_id, f.rank, f.doc_id, c.pos, c.chunk,
               CAST(len(string_split(c.chunk, ' ')) AS BIGINT)
                   AS n_chunk_tokens,
               CAST(sum(len(string_split(c.chunk, ' ')))
                    OVER (PARTITION BY f.query_id
                          ORDER BY f.rank ASC, c.pos ASC
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens
        FROM fb f JOIN c ON c.doc_id = f.doc_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY rank ASC, pos ASC) AS BIGINT) AS ctx_order,
           doc_id, rank, pos, n_chunk_tokens, cum_tokens,
           substr(chunk, 1, 30) AS chunk_prefix
    FROM packed
    WHERE cum_tokens <= {_RAG_BUDGET}
    ORDER BY query_id, ctx_order
"""


def _rag_pack_sql() -> str:
    return _RAG_PACK_SQL.format(core=_bm25_core_ctes())


# ---------------------------------------------------------------------------
# per-source token entropy (portable-ln)
# ---------------------------------------------------------------------------

#: ln domain bounds for p = n/tot ∈ (0, 1]: lo −48 covers singleton
#: tokens in a 10¹²-token corpus (p = 10⁻¹² > 2⁻⁴⁸); hi 1 because
#: p ≤ 1.
_ENTROPY_LO_K, _ENTROPY_HI_K = -48, 1
_ENTROPY_P = "(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))"
#: Per-token Shannon term −p·ln p in floor NANOnats (nano, not micro:
#: each term is ≤ 1/e, and vocab-many floors accumulate — nano keeps
#: the total's truncation bias under 10⁻⁴ nats per 10⁵-type vocab).
_ENTROPY_TERM = (
    "CAST(floor(-({p} * {ln}) * 1.0e9) AS BIGINT)"
)


def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution, in
    nanonats — the lexical-diversity signal of corpus curation (a
    boilerplate-heavy or template-spam source scores low even when its
    doc-level quality checks pass; compare against `source_vocab_drift`
    which measures distance from the corpus, not spread). Second
    consumer of the portable logarithm — p spans eight decades here, so
    the wide-domain reduction (lo_k = −48) is exercised, not just the
    BM25 ratio range.

    Exactness: per-type terms −p·ln p are floor-quantized to integer
    nanonats and SUMMED AS BIGINTS — a float Σ would be
    partition-order-dependent, the integer sum is associative, so the
    aggregate is deterministic under any shuffle schedule (and the
    truncated-series ln makes each term bit-identical across engines).

    Shape: one (source, token) shuffle with map-side combine, per-source
    totals re-aggregated from the type counts and joined back on the
    ~|sources|-row key, then one narrow codegen projection and a final
    per-source fold. Never rescans the corpus."""
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(_tokens()).alias("token"))
        .where(F.length("token") > 0)
        .select("source", F.lower("token").alias("token"))
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    term = _ENTROPY_TERM.format(
        p=_ENTROPY_P, ln=ln_from_kz_sql("__ln_k", "__ln_z")
    )
    scored = (
        counts.join(totals, "source")
        .withColumn(
            "__ln_k", F.expr(ln_k_sql(_ENTROPY_P, _ENTROPY_LO_K, _ENTROPY_HI_K))
        )
        .withColumn(
            "__ln_m",
            F.expr(ln_m_sql(_ENTROPY_P, "__ln_k", _ENTROPY_LO_K, _ENTROPY_HI_K)),
        )
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn("term_nano", F.expr(term))
    )
    return scored.groupBy("source").agg(
        F.max("tot").alias("n_tokens"),
        F.max("vocab").alias("vocab_size"),
        F.sum("term_nano").alias("entropy_nanonats"),
    )


def _entropy_sql() -> str:
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    term = _ENTROPY_TERM.format(
        p=_ENTROPY_P, ln=ln_from_kz_sql("__ln_k", "__ln_z")
    )
    return rf"""
    WITH tok AS (
        SELECT source, lower(token) AS token
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents
        )
        WHERE length(token) > 0
    ),
    counts AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY ALL
    ),
    totals AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS vocab
        FROM counts GROUP BY source
    ),
    s1 AS (
        SELECT counts.source, n, tot, vocab,
               {ln_k_sql(_ENTROPY_P, _ENTROPY_LO_K, _ENTROPY_HI_K)} AS __ln_k
        FROM counts JOIN totals USING (source)
    ),
    s2 AS (SELECT *,
               {ln_m_sql(_ENTROPY_P, "__ln_k", _ENTROPY_LO_K, _ENTROPY_HI_K)}
                   AS __ln_m
           FROM s1),
    s3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM s2)
    SELECT source,
           CAST(max(tot) AS BIGINT) AS n_tokens,
           CAST(max(vocab) AS BIGINT) AS vocab_size,
           CAST(sum({term}) AS BIGINT) AS entropy_nanonats
    FROM s3
    GROUP BY source
"""


_ENTROPY_SQL = _entropy_sql()


# ---------------------------------------------------------------------------
# n-gram novelty (corpus redundancy growth)
# ---------------------------------------------------------------------------

_NOVEL_K = 3  # shingle width (tokens)


def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle NOVELTY against everything earlier in
    ingestion order: the share of a doc's distinct 3-token shingles
    whose FIRST corpus occurrence (min doc_id) is this doc — the
    doc-grain redundancy-growth signal (a crawl whose novelty permille
    decays toward 0 is re-crawling itself; complements
    `dup_ngram_fraction`, which scores duplication, not first-ness,
    and `vocab_growth`, which is corpus-grain).

    Shape: shingles build map-side (sequence→slice→sha2, the winnowing
    hex scheme — sha256 is computable on both engines so the shuffle
    key is 64 hex chars, not raw text), distinct-ed per doc BEFORE the
    explode, then the exploded pairs are CHECKPOINTED via the SHARED
    memoized index (``dedup.shingle3_index``, also under
    `shingle_containment_pairs`) — they feed two aggregations (per-doc
    shingle counts and per-shingle first occurrence), and without the
    materialization each re-runs tokenize + sha256 over the corpus
    (trap 2 in SCALE.md; measured 8.8 s → ~3 s at sf0.1, and the
    shared build amortizes across both consumers per bench pass).
    Novel counts come from RE-AGGREGATING the
    |vocab|-row first-occurrence table by its first_doc — never a
    join-back of every gram — so the final assembly is a doc-grain
    join of two small tables. Skew structurally absent (per-doc
    distinct collapsed within-doc repeats)."""
    # The exploded (doc_id, g) substrate is the SHARED memoized
    # 3-shingle inverted index (dedup.shingle3_index — same tokenizer,
    # same width, same sha256 hex keys as shingle_containment_pairs);
    # one build per pass serves both consumers.
    from .dedup import shingle3_index

    pos = shingle3_index(spark, sf_dir)
    per_doc = pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel = (
        pos.groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        per_doc.join(novel, per_doc.doc_id == novel.first_doc, "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("1000 * n_novel div n_shingles").alias("novelty_permille"),
        )
    )


_NOVELTY_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(range(1, len(toks) - {_NOVEL_K - 1} + 1),
                       i -> sha256(array_to_string(
                           list_slice(toks, i, i + {_NOVEL_K - 1}), ' ')))))
                   AS g
        FROM t
        WHERE len(toks) >= {_NOVEL_K}
    ),
    first AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (first_doc = doc_id) AS BIGINT) AS n_novel,
           (1000 * count(*) FILTER (first_doc = doc_id)) // count(*)
               AS novelty_permille
    FROM g JOIN first USING (g)
    GROUP BY doc_id
"""


def novelty_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental [[doc_novelty]]: the first-occurrence
    table (shingle → min doc_id) is a MERGEABLE min-monoid, so the
    redundancy-growth signal maintains itself as crawl batches land —
    the persisted (g, first_doc) index folds each batch via
    ``merge_aggregate`` (one batch-only shuffle; history text is never
    re-shingled), and each batch's docs score their novelty against
    the POST-fold state. Exact by construction for id-ordered batches:
    a later batch can never steal first-ness from an earlier doc
    (min over the union = min(folded_min, batch_min), and batch ids
    are all larger), so batch-attributed novel counts partition the
    one-shot counts and the union of per-batch reports equals
    [[doc_novelty]] bit-for-bit — the driver oracle IS that query's
    SQL, hash-checked.

    Scale shape: per batch, ONE shingle-key shuffle over the batch
    plus a narrow scan of the pre-aggregated index (vocab-sized, ~100×
    smaller than the corpus); the per-batch novel counts re-aggregate
    the index rows whose first_doc falls in the batch's id range —
    never a join-back of every gram. The split median is one scalar
    collect (control plane)."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate
    from .dedup import shingle3_index

    ex = shingle3_index(spark, sf_dir)
    mid = load_table(spark, sf_dir, "documents").agg(
        F.expr("percentile(doc_id, 0.5)")
    ).first()[0]

    tmp = tempfile.mkdtemp(prefix="novelty_idx_q_")
    mart = f"{tmp}/first_occurrence"
    try:
        reports = []
        for lo_excl, hi_incl in ((None, mid), (mid, None)):
            in_batch = F.col("doc_id") > lo_excl if lo_excl is not None else (
                F.col("doc_id") <= hi_incl
            )
            # No batch checkpoint: `ex` is already the checkpointed
            # shared index, so the batch is a cheap filter over local
            # blocks — materializing it again would copy the exploded
            # rows once per batch for no reuse win (both consumers,
            # the fold and the report, evaluate eagerly in this
            # iteration while `ex` is stable).
            batch = ex.where(in_batch)
            merged = merge_aggregate(
                spark,
                mart,
                batch.select("g", F.col("doc_id").alias("first_doc")),
                keys=["g"],
                sums=[],
                mins=["first_doc"],
            )
            per_doc = batch.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shingles")
            )
            first_here = (
                merged.where(
                    (F.col("first_doc") > lo_excl)
                    if lo_excl is not None
                    else (F.col("first_doc") <= hi_incl)
                )
                .groupBy(F.col("first_doc").alias("doc_id"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
            )
            reports.append(
                rounds.cut(
                    per_doc.join(first_here, "doc_id", "left").select(
                        "doc_id",
                        "n_shingles",
                        F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                            "n_novel"
                        ),
                    )
                )
            )
        return (
            reports[0]
            .unionByName(reports[1])
            .select(
                "doc_id",
                "n_shingles",
                "n_novel",
                F.expr("1000 * n_novel div n_shingles").alias(
                    "novelty_permille"
                ),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_DSIR_B = 512  # hashed n-gram feature buckets
_DSIR_TARGET = "src0"  # the target domain the raw pool is reweighted toward
_DSIR_LO_K, _DSIR_HI_K = -40, 40


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_id, source, bucket) hashed-feature index under the
    DSIR family — unigrams ∪ bigrams, sha256-hashed into ``_DSIR_B``
    buckets. The CPU-dominant step of both consumers
    (dsir_importance_weights, dsir_resample_topk), which otherwise each
    checkpoint an identical copy of the sha256+hex-decode map —
    memoized."""
    return memo.shared(
        "dsir_feats", spark, sf_dir, lambda _keep: _build_dsir_feats(spark, sf_dir)
    )


def _build_dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hex_to_bigint_sql, spread_for_cpu

    # CPU-bound map (sha256 + 15-digit hex decode per feature) over a
    # small-file scan: spread across cores first (the containment
    # lesson), and checkpoint the exploded feature index — it feeds
    # BOTH the bucket-count branch and the per-doc scoring join, and
    # re-deriving it doubles the dominant cost.
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"))
    toks = F.filter(_tokens(), lambda t: F.length(t) > 0)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    raw = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.concat(toks, bigrams)).alias("feat"),
        )
        .where(F.length("feat") > 0)
        # sha2 staged through a plan_barrier'd column: inlined into the
        # 15-digit hex decode it would run 15x per feature row (the
        # r13 poisson_bootstrap_ci lesson — codegen does not CSE
        # textual copies, CollapseProject re-inlines bare aliases)
        .withColumn(
            "hx", F.expr("substr(sha2(concat('dsir:', feat), 256), 1, 15)")
        )
    )
    return rounds.cut(
        plan_barrier(raw)
        .withColumn(
            "bucket",
            F.expr(hex_to_bigint_sql("hx") + f" % {_DSIR_B}"),
        )
        .select("doc_id", "source", "bucket")
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    Selection for Language Models via Importance Resampling"): score
    every RAW-pool document by how much more likely it is under the
    TARGET domain's hashed-n-gram generative model than under the raw
    pool's own — weight(doc) = Σ_features count·(ln p̂_target(f) −
    ln p̂_raw(f)), features = unigrams ∪ bigrams hashed into
    {b} buckets (the hashing trick of [[hashed_feature_crosses]]
    applied to a bag-of-ngrams LM), add-1 smoothed. Sampling raw docs
    ∝ exp(weight) reshapes web-scale data toward the target domain —
    the principled upgrade over [[quality_classifier_score]]'s
    hand-rule filter and the selection knob feeding
    [[weighted_doc_sample]]. Target here: documents from source
    '{target}'; every other source is the raw pool.

    Integer-exact: per-bucket log-probabilities quantize to BIGINT
    micronats via the portable series ln ([[unigram_surprisal]]'s
    idiom) BEFORE the per-document sum, so aggregation order cannot
    wobble a unit and the DuckDB replay is bit-exact.

    Scale shape: one (bucket)-keyed conditional count over the
    exploded features (map-side combined; output bounded at {b} rows
    forever), the λ table broadcast back, one per-doc sum — the same
    two-shuffle skeleton as the surprisal family, with the vocab
    replaced by a FIXED-width bucket table (DSIR's point: no vocab
    build, stable memory at any corpus size). The feature index is
    memoized — [[dsir_resample_topk]] consumes the same index, and the
    query's own plan was ALREADY rooted at the index checkpoint, so
    memoization changes who pays the build, never the plan.

    The WEIGHTS table itself is memoized the same way (r16) —
    [[dsir_resample_topk]] consumes the identical table as its race
    substrate, so without the memo every resample run re-fit λ and
    re-scored the raw pool (the registered-sketch-as-substrate lesson
    in SCALE.md)."""
    return memo.shared(
        "dsir_weights",
        spark,
        sf_dir,
        lambda _keep: rounds.cut(
            _dsir_weights_from_feats(
                _dsir_feats(spark, sf_dir).withColumn("n", F.lit(1).cast("bigint"))
            )
        ),
    )


dsir_importance_weights.__doc__ = dsir_importance_weights.__doc__.format(
    b=_DSIR_B, target=_DSIR_TARGET
)


def _dsir_weights_from_feats(feats_n: DataFrame) -> DataFrame:
    """Shared λ-fit + scoring over the (doc_id, source, bucket, n)
    grain — the one-shot query (n = 1 per feature row) and the
    [[dsir_two_batch]] fold (n = folded multiplicity) route through
    this ONE function, so they cannot diverge by construction (the
    ``_budgets_from_lang_grain`` pattern)."""
    from ..functions import (
        LN_Z_SQL,
        ln_from_kz_sql,
        ln_k_sql,
        ln_m_sql,
    )

    is_t = F.col("source") == _DSIR_TARGET
    counts = feats_n.groupBy("bucket").agg(
        F.sum(F.when(is_t, F.col("n")).otherwise(0)).cast("bigint").alias("cnt_t"),
        F.sum(F.when(~is_t, F.col("n")).otherwise(0)).cast("bigint").alias("cnt_r"),
    )
    tots = counts.agg(
        F.sum("cnt_t").cast("bigint").alias("tot_t"),
        F.sum("cnt_r").cast("bigint").alias("tot_r"),
    )
    lam = counts.crossJoin(F.broadcast(tots))
    for side in ("t", "r"):
        p = (
            f"(CAST(cnt_{side} + 1 AS DOUBLE)"
            f" / CAST(tot_{side} + {_DSIR_B} AS DOUBLE))"
        )
        lam = (
            lam.withColumn("__ln_k", F.expr(ln_k_sql(p, _DSIR_LO_K, _DSIR_HI_K)))
            .withColumn(
                "__ln_m", F.expr(ln_m_sql(p, "__ln_k", _DSIR_LO_K, _DSIR_HI_K))
            )
            .withColumn("__ln_z", F.expr(LN_Z_SQL))
            .withColumn(
                f"ln_{side}_micro",
                F.expr(
                    f"CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6)"
                    " AS BIGINT)"
                ),
            )
            .drop("__ln_k", "__ln_m", "__ln_z")
        )
    lam = lam.select(
        "bucket", (F.col("ln_t_micro") - F.col("ln_r_micro")).alias("lam_micro")
    )
    return (
        feats_n.where(~is_t)
        .join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("lam_micro"))
            .cast("bigint")
            .alias("weight_micronats"),
        )
    )


def dsir_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained DSIR — the shape importance reweighting
    runs in production: crawl batches arrive, each batch's documents
    are hashed ONCE into the (doc_id, source, bucket, n) feature grain,
    and that grain is a pure commutative monoid, so batches FOLD into
    the persisted mart (``merge_aggregate``, keys = (doc_id, source,
    bucket)) — history is never re-hashed, which is the save: the
    sha256 feature map is the family's dominant cost. λ is GLOBAL (a
    new batch shifts every bucket's log-ratio, so every doc's weight
    legitimately changes), and the λ-fit + scoring re-run on the folded
    mart through the SHARED [[_dsir_weights_from_feats]] — the
    [[doremi_two_batch]] contract: fold(b1) ⊕ fold(b2) must reproduce
    [[dsir_importance_weights]]'s one-shot SQL oracle bit-for-bit.

    Scale shape: per batch, one (doc, bucket) shuffle over the BATCH
    only; the persisted mart is ≤ |docs|·distinct-buckets-per-doc slim
    rows; the re-scored output re-aggregates from the mart (one
    512-row λ re-fit + one mart-grain scoring join), never from raw
    text."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate

    feats = _dsir_feats(spark, sf_dir)
    mid = feats.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="dsirtb_")
    try:
        state = None
        for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
            state = merge_aggregate(
                spark,
                f"{tmp}/feats",
                feats.where(pred),
                keys=["doc_id", "source", "bucket"],
                sums=[],
                count_col="n",
            )
        st = state.select(
            "doc_id", "source", "bucket", F.col("n").cast("bigint").alias("n")
        )
        return rounds.cut(_dsir_weights_from_feats(st))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _dsir_sql() -> str:
    from ..functions import LN_Z_SQL, hex_to_bigint_sql, ln_from_kz_sql, ln_k_sql, ln_m_sql

    legs = {}
    for side in ("t", "r"):
        p = (
            f"(CAST(cnt_{side} + 1 AS DOUBLE)"
            f" / CAST(tot_{side} + {_DSIR_B} AS DOUBLE))"
        )
        legs[side] = (
            ln_k_sql(p, _DSIR_LO_K, _DSIR_HI_K),
            ln_m_sql(p, "__ln_k", _DSIR_LO_K, _DSIR_HI_K),
            LN_Z_SQL,
            f"CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6) AS BIGINT)",
        )
    bucket = (
        hex_to_bigint_sql("substr(sha256('dsir:' || feat), 1, 15)")
        + f" % {_DSIR_B}"
    )
    return rf"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source, {bucket} AS bucket
        FROM (
            SELECT doc_id, source, unnest(
                list_concat(
                    toks,
                    list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                        i -> toks[i] || ' ' || toks[i + 1]))) AS feat
            FROM t
        ) WHERE length(feat) > 0
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_t,
               CAST(sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 0 ELSE 1 END)
                    AS BIGINT) AS cnt_r
        FROM feats GROUP BY bucket
    ),
    tots AS (
        SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
               CAST(sum(cnt_r) AS BIGINT) AS tot_r
        FROM counts
    ),
    t1 AS (SELECT counts.*, tots.*, {legs['t'][0]} AS __ln_k
           FROM counts CROSS JOIN tots),
    t2 AS (SELECT *, {legs['t'][1]} AS __ln_m FROM t1),
    t3 AS (SELECT *, {legs['t'][2]} AS __ln_z FROM t2),
    t4 AS (SELECT bucket, cnt_t, cnt_r, tot_t, tot_r,
                  {legs['t'][3]} AS ln_t_micro FROM t3),
    r1 AS (SELECT *, {legs['r'][0]} AS __ln_k FROM t4),
    r2 AS (SELECT *, {legs['r'][1]} AS __ln_m FROM r1),
    r3 AS (SELECT *, {legs['r'][2]} AS __ln_z FROM r2),
    lam AS (SELECT bucket,
                   ln_t_micro - {legs['r'][3]} AS lam_micro
            FROM r3)
    SELECT f.doc_id, f.source,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(l.lam_micro) AS BIGINT) AS weight_micronats
    FROM feats f JOIN lam l USING (bucket)
    WHERE f.source <> '{_DSIR_TARGET}'
    GROUP BY f.doc_id, f.source
"""


_DSIR_RESAMPLE_K = 50
#: u = (h+1)/2⁶⁰ ∈ (2⁻⁶⁰, 1] — the [[weighted_doc_sample]] idiom with
#: this query's own salt.
_DSIRR_U = "(CAST(h + 1 AS DOUBLE) / 1.152921504606846976e18)"
_DSIRR_LO_K, _DSIRR_HI_K = -60, 1
#: The inner clock −ln(u) is clamped at 1e-9 before the outer ln: a doc
#: whose u lands within the series' ~1.9e-7 absolute error of 1.0 could
#: otherwise push the COMPUTED −ln(u) to 0 or below, and ln of a
#: non-positive value walks the mantissa CASE off its domain (finite
#: deterministic garbage at best, a NaN whose floor() the two engines
#: may disagree on at worst — the media_text_alignment overflow lesson:
#: bound the domain, don't hope). greatest() is portable, the clamp is
#: measure-~2e-7 per doc, and clamped docs sort to the sampled end
#: deterministically (tie-broken by doc_id). With the clamp the outer
#: ln's domain is [1e-9, 42], inside [2⁻³⁰, 2⁶].
_DSIRR_INNER_FLOOR = "1e-09"
_DSIRR_LO_K2, _DSIRR_HI_K2 = -30, 6


def dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION step DSIR actually ships (Xie et al. 2023, §2:
    "sample k examples without replacement ∝ exp(weight)"), run as a
    query on top of [[dsir_importance_weights]]: an Efraimidis–Spirakis
    exponential race in LOG space. The classic key −ln(u)/w needs
    w = exp(λ) — libm territory — but MINIMIZING −ln(u)/exp(λ) is the
    same order as minimizing ln(−ln(u)) − λ, which needs only the
    portable series ln twice; λ is already integer micronats, the outer
    ln floors to micronats too, so the race key is a BIGINT and the
    top-k cut cannot wobble across engines.

    Scale shape: the weights query's two-shuffle skeleton, then ONE
    narrow map computes the key in codegen and TakeOrderedAndProject
    keeps k rows per partition before a k-row driver merge — no global
    sort, no extra shuffle, same as [[weighted_doc_sample]]."""
    from ..functions import (
        LN_Z_SQL,
        hex_to_bigint_sql,
        ln_from_kz_sql,
        ln_k_sql,
        ln_m_sql,
    )

    w = dsir_importance_weights(spark, sf_dir)
    h = hex_to_bigint_sql(
        "substr(sha2(concat('dsirres:', CAST(doc_id AS STRING)), 256), 1, 15)"
    )
    clock = (
        f"greatest(-({ln_from_kz_sql('__ln_k', '__ln_z')}),"
        f" {_DSIRR_INNER_FLOOR})"
    )
    gumbel = ln_from_kz_sql("__g_k", "__g_z")
    # The fence between the two ln chains is load-bearing: the outer
    # chain's mantissa CASE references ``clock`` in every branch, and
    # CollapseProject would otherwise re-inline the ENTIRE clock series
    # (62-branch CASE × 15-term hex decode) into each — the r13
    # poisson_bootstrap staging lesson.
    staged = plan_barrier(
        w.withColumn("h", F.expr(h))
        .withColumn("__ln_k", F.expr(ln_k_sql(_DSIRR_U, _DSIRR_LO_K, _DSIRR_HI_K)))
        .withColumn(
            "__ln_m", F.expr(ln_m_sql(_DSIRR_U, "__ln_k", _DSIRR_LO_K, _DSIRR_HI_K))
        )
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn("clock", F.expr(clock))
        .select("doc_id", "source", "n_feats", "weight_micronats", "clock")
    )
    return (
        staged.withColumn(
            "__g_k", F.expr(ln_k_sql("clock", _DSIRR_LO_K2, _DSIRR_HI_K2))
        )
        .withColumn(
            "__g_m", F.expr(ln_m_sql("clock", "__g_k", _DSIRR_LO_K2, _DSIRR_HI_K2))
        )
        .withColumn("__g_z", F.expr("((__g_m - 1.0e0) / (__g_m + 1.0e0))"))
        .withColumn(
            "race_key_micro",
            F.expr(
                f"CAST(floor(({gumbel}) * 1.0e6) AS BIGINT) - weight_micronats"
            ),
        )
        .select("doc_id", "source", "n_feats", "weight_micronats", "race_key_micro")
        .orderBy("race_key_micro", "doc_id")
        .limit(_DSIR_RESAMPLE_K)
    )


def _dsir_resample_sql() -> str:
    from ..functions import (
        hex_to_bigint_sql,
        ln_from_kz_sql,
        ln_k_sql,
        ln_m_sql,
    )

    h = hex_to_bigint_sql(
        "substr(sha256('dsirres:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    )
    clock = (
        f"greatest(-({ln_from_kz_sql('__ln_k', '__ln_z')}),"
        f" {_DSIRR_INNER_FLOOR})"
    )
    gumbel = ln_from_kz_sql("__g_k", "__g_z")
    return f"""
    WITH w AS ({_dsir_sql()}),
    b AS (SELECT doc_id, source, n_feats, weight_micronats, {h} AS h FROM w),
    s1 AS (SELECT *, {ln_k_sql(_DSIRR_U, _DSIRR_LO_K, _DSIRR_HI_K)} AS __ln_k
           FROM b),
    s2 AS (SELECT *, {ln_m_sql(_DSIRR_U, "__ln_k", _DSIRR_LO_K, _DSIRR_HI_K)}
               AS __ln_m FROM s1),
    s3 AS (SELECT *, ((__ln_m - 1.0e0) / (__ln_m + 1.0e0)) AS __ln_z FROM s2),
    s4 AS (SELECT *, {clock} AS clock FROM s3),
    s5 AS (SELECT *, {ln_k_sql("clock", _DSIRR_LO_K2, _DSIRR_HI_K2)} AS __g_k
           FROM s4),
    s6 AS (SELECT *, {ln_m_sql("clock", "__g_k", _DSIRR_LO_K2, _DSIRR_HI_K2)}
               AS __g_m FROM s5),
    s7 AS (SELECT *, ((__g_m - 1.0e0) / (__g_m + 1.0e0)) AS __g_z FROM s6)
    SELECT doc_id, source, n_feats, weight_micronats,
           CAST(floor(({gumbel}) * 1.0e6) AS BIGINT) - weight_micronats
               AS race_key_micro
    FROM s7
    ORDER BY race_key_micro, doc_id
    LIMIT {_DSIR_RESAMPLE_K}
"""


# ---------------------------------------------------------------------------
# repetition-signal quality filter (Gopher Table A1 family)
# ---------------------------------------------------------------------------

# Thresholds in integer permille, set from the measured corpus
# distribution (sf0.01: dup-bigram p90 = 65, top-bigram-share p90 = 68,
# dup-trigram ~0 except pathological docs) so the keep flag actually
# discriminates here. Gopher's published natural-text thresholds (e.g.
# duplicate-2-gram fraction 0.20) would keep everything on this
# synthetic ~30-word-vocabulary corpus — the POINT of the signals is
# that thresholds are set per-corpus from exactly this distribution.
_REP_MAX_DUP_BIGRAM = 65
_REP_MAX_TOP_BIGRAM = 68
_REP_MAX_DUP_TRIGRAM = 50


def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document REPETITION signals — the Gopher/MassiveText filter
    family (Rae et al. 2021, Table A1) that [[doc_quality]]'s
    length/punctuation heuristics don't cover: templated or
    looping-generator text shows up as duplicated n-grams long before
    it fails a length check. Signals (all integer permille, exact):
    duplicate-token fraction, duplicate-bigram fraction,
    duplicate-trigram fraction, and the share of the single most
    frequent bigram; plus the composite ``keep_repetition`` flag at
    corpus-calibrated thresholds.

    Scale shape: token/trigram duplication is a NARROW map (per-doc
    array ops — size vs array_distinct size; no shuffle). The bigram
    stats need the per-(doc, bigram) count grain for the top-share
    signal, so they ride ONE map-side-combined shuffle on (doc_id,
    bigram) and re-aggregate to the doc grain; the two doc-grain
    branches join on doc_id. Nothing is corpus²; every row count is
    ≤ total tokens."""
    docs = load_table(spark, sf_dir, "documents")
    base = plan_barrier(docs.select("doc_id", _tokens().alias("t")))
    narrow = base.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.expr(
            "CAST((size(t) - size(array_distinct(t))) * 1000"
            " div greatest(size(t), 1) AS BIGINT)"
        ).alias("dup_token_permille"),
        F.expr(
            "CAST(CASE WHEN size(t) >= 3 THEN"
            " (CAST(size(t) - 2 - size(array_distinct("
            "transform(sequence(1, size(t) - 2),"
            " i -> concat_ws(' ', t[i-1], t[i], t[i+1])))) AS BIGINT)"
            " * 1000) div (size(t) - 2)"
            " ELSE 0 END AS BIGINT)"
        ).alias("dup_trigram_permille"),
    )
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat_ws(' ', t[i-1], t[i]))"
    )
    bg = base.where(F.size("t") >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    )
    bg_doc = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((sum(c) - count(*)) * 1000 div sum(c) AS BIGINT)"
            ).alias("dup_bigram_permille"),
            F.expr("CAST(max(c) * 1000 div sum(c) AS BIGINT)").alias(
                "top_bigram_permille"
            ),
        )
    )
    out = narrow.join(bg_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        "dup_token_permille",
        F.coalesce("dup_bigram_permille", F.lit(0))
        .cast("bigint")
        .alias("dup_bigram_permille"),
        "dup_trigram_permille",
        F.coalesce("top_bigram_permille", F.lit(0))
        .cast("bigint")
        .alias("top_bigram_permille"),
    )
    return out.withColumn(
        "keep_repetition",
        (F.col("dup_bigram_permille") <= _REP_MAX_DUP_BIGRAM)
        & (F.col("top_bigram_permille") <= _REP_MAX_TOP_BIGRAM)
        & (F.col("dup_trigram_permille") <= _REP_MAX_DUP_TRIGRAM),
    )


_GOPHER_REPETITION_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    narrow AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST((len(t) - len(list_distinct(t))) * 1000
                    // greatest(len(t), 1) AS BIGINT)
                   AS dup_token_permille,
               CAST(CASE WHEN len(t) >= 3 THEN
                   ((len(t) - 2) - len(list_distinct(list_transform(
                        range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))))
                   * 1000 // (len(t) - 2)
               ELSE 0 END AS BIGINT) AS dup_trigram_permille
        FROM t
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS bg
        FROM t WHERE len(t) >= 2
    ),
    bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
    bgd AS (
        SELECT doc_id,
               CAST((sum(c) - count(*)) * 1000 // sum(c) AS BIGINT)
                   AS dup_bigram_permille,
               CAST(max(c) * 1000 // sum(c) AS BIGINT)
                   AS top_bigram_permille
        FROM bgc GROUP BY doc_id
    )
    SELECT n.doc_id, n.n_tokens, n.dup_token_permille,
           coalesce(b.dup_bigram_permille, 0) AS dup_bigram_permille,
           n.dup_trigram_permille,
           coalesce(b.top_bigram_permille, 0) AS top_bigram_permille,
           (coalesce(b.dup_bigram_permille, 0) <= {_REP_MAX_DUP_BIGRAM}
            AND coalesce(b.top_bigram_permille, 0) <= {_REP_MAX_TOP_BIGRAM}
            AND n.dup_trigram_permille <= {_REP_MAX_DUP_TRIGRAM})
               AS keep_repetition
    FROM narrow n LEFT JOIN bgd b ON b.doc_id = n.doc_id
"""


QUERIES = {
    "bm25_topterms": bm25_topterms,
    "bm25_retrieval_topk": bm25_retrieval_topk,
    "prf_query_expansion": prf_query_expansion,
    "rag_context_pack": rag_context_pack,
    "source_token_entropy": source_token_entropy,
    "doc_novelty": doc_novelty,
    "novelty_two_batch": novelty_two_batch,
    "quality_classifier_score": quality_classifier_score,
    "repeated_spans": repeated_spans,
    "chunk_dedup_rewrite": chunk_dedup_rewrite,
    "vocab_growth": vocab_growth,
    "doc_token_stats": doc_token_stats,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "fertility_adjusted_token_budgets": fertility_adjusted_token_budgets,
    "fertility_budgets_two_batch": fertility_budgets_two_batch,
    "source_vocab_drift": source_vocab_drift,
    "source_curation_rollup": source_curation_rollup,
    "winnowing_fingerprints": winnowing_fingerprints,
    "winnowing_plagiarism_pairs": winnowing_plagiarism_pairs,
    "doc_quality": doc_quality,
    "gopher_repetition_signals": gopher_repetition_signals,
    "exact_substring_rewrite": exact_substring_rewrite,
    "ndcg_retrieval_eval": ndcg_retrieval_eval,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
    "term_frequencies": term_frequencies,
    "pii_redact": pii_redact,
    "repetition_signals": repetition_signals,
    "doc_chunks": doc_chunks,
    "vocab_coverage": vocab_coverage,
    "dup_ngram_fraction": dup_ngram_fraction,
    "unigram_surprisal": unigram_surprisal,
    "dsir_importance_weights": dsir_importance_weights,
    "bigram_surprisal": bigram_surprisal,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "dsir_resample_topk": dsir_resample_topk,
    "dsir_two_batch": dsir_two_batch,
    "pmi_collocations": pmi_collocations,
    "zipf_fit": zipf_fit,
    "bpe_pair_counts": bpe_pair_counts,
    "bpe_merge_steps": bpe_merge_steps,
    "bpe_encode_fertility": bpe_encode_fertility,
}

ORACLES = {
    "bm25_topterms": _BM25_SQL,
    "bm25_retrieval_topk": _BM25_RETRIEVAL_SQL,
    "prf_query_expansion": _PRF_SQL,
    "rag_context_pack": _rag_pack_sql(),
    "source_token_entropy": _ENTROPY_SQL,
    "doc_novelty": _NOVELTY_SQL,
    # fold ≡ one-shot bit-for-bit (min-monoid first-occurrence index)
    "novelty_two_batch": _NOVELTY_SQL,
    "quality_classifier_score": _QC_SQL,
    "repeated_spans": _REPEATED_SPANS_SQL,
    "chunk_dedup_rewrite": _CHUNK_DEDUP_REWRITE_SQL,
    "vocab_growth": _VOCAB_GROWTH_SQL,
    "doc_token_stats": _TOKEN_STATS_SQL,
    "tokenizer_fertility_by_lang": _FERTILITY_SQL,
    "fertility_adjusted_token_budgets": _FERT_BUDGETS_SQL,
    # the fold must reproduce the ONE-SHOT budgets bit-for-bit
    "fertility_budgets_two_batch": _FERT_BUDGETS_SQL,
    "source_vocab_drift": _SOURCE_DRIFT_SQL,
    "source_curation_rollup": _source_rollup_sql(),
    "winnowing_fingerprints": _WINNOW_SQL,
    "winnowing_plagiarism_pairs": _PLAG_SQL,
    "doc_quality": _QUALITY_SQL,
    "gopher_repetition_signals": _GOPHER_REPETITION_SQL,
    "exact_substring_rewrite": _EXACT_SUBSTR_SQL,
    "ndcg_retrieval_eval": _NDCG_SQL,
    "lang_id": _LANG_SQL,
    "doc_fingerprint": _FINGERPRINT_SQL,
    "term_frequencies": _TF_SQL,
    "pii_redact": _PII_SQL,
    "repetition_signals": _REPETITION_SQL,
    "doc_chunks": _CHUNKS_SQL,
    "vocab_coverage": _VOCAB_SQL,
    "dup_ngram_fraction": _DUP_NGRAM_SQL,
    "unigram_surprisal": _SURPRISAL_SQL,
    "dsir_importance_weights": _dsir_sql(),
    "bigram_surprisal": _BIGRAM_SURPRISAL_SQL,
    "ccnet_perplexity_buckets": _CCNET_BUCKETS_SQL,
    "dsir_resample_topk": _dsir_resample_sql(),
    # fold(b1) ⊕ fold(b2) must reproduce the ONE-SHOT weights bit-for-bit
    "dsir_two_batch": _dsir_sql(),
    "pmi_collocations": _pmi_sql(),
    "zipf_fit": _zipf_sql(),
    "bpe_pair_counts": _BPE_SQL,
    "bpe_merge_steps": _bpe_merge_sql(),
    "bpe_encode_fertility": _bpe_fertility_sql(),
}
