"""Deduplication family over ``documents`` / ``events`` — the
training-data-pipeline dedup stack:

- exact dedup by content fingerprint (hash-groupBy)
- keep-first dedup by business key (window row_number)
- n-gram Jaccard near-dup over a bounded candidate set (exact, oracle-able)
- SimHash near-dup (nibble-parity sha256 sketch, oracle-able)
- MinHash-LSH banded near-dup (the 100 TB path: candidates come from
  band-bucket equi-joins, NEVER an all-pairs product; verified in pytest
  with planted duplicates, rows-only for the driver)

Scale design: every sketch (fingerprint, simhash, minhash signature) is
computed map-side with built-in/higher-order functions before any
shuffle, so the wide exchange carries a fixed-size key instead of the
document text. LSH candidate generation shuffles on (band_idx,
band_hash) — duplicate clusters co-locate, everything else spreads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import memo
from ..catalog import load_table

_WS = r"\s+"


def _tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), _WS)


def _norm_fingerprint(col: str = "text") -> Column:
    """sha256 over lowercased, whitespace-collapsed text (textops parity)."""
    return F.sha2(F.lower(F.regexp_replace(F.trim(F.col(col)), _WS, " ")), 256)


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per distinct normalized content: keeper = lowest doc_id,
    plus the duplicate count. Single hash-agg shuffle on the 32-byte
    fingerprint — the canonical exact-dedup pass at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _norm_fingerprint().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


_EXACT_SQL = r"""
    SELECT sha256(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keeper_doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY ALL
"""


# ---------------------------------------------------------------------------
# keep-first dedup by key (window row_number; reference P11's dropDuplicates
# made deterministic — SURVEY §2.5 notes the engine adds window coverage)
# ---------------------------------------------------------------------------


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest event per (user_id, event_type): row_number over a
    partitioned window, deterministic tie-break on event_id. One shuffle
    on the dedup key; at scale this beats groupBy+join-back because the
    payload rides the same exchange."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_KEEP_FIRST_SQL = """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, bounded candidates)
# ---------------------------------------------------------------------------


def jaccard_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized eager checkpoint of the blocked-candidate Jaccard frame
    (doc_a, doc_b, jaccard) — the substrate every blocked-Jaccard
    consumer starts from. Three data paths read the identical table:
    the registered [[ngram_jaccard_pairs]] query, the CC cluster
    build's edge selection (``mlprep._compute_dedup_clusters``) and
    [[cluster_labels_two_batch]]'s edge pass. The checkpoint doubles as
    the optimizer barrier the CC build needs (filtering a checkpoint
    scan cannot be pushed into the join)."""

    def build(keep):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.array_distinct(_tokens()).alias("toks")
        )
        pairs = docs.alias("a").join(
            docs.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.doc_id") > F.col("a.doc_id"))
            & (F.col("b.doc_id") <= F.col("a.doc_id") + 60),
            "inner",
        )
        inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
        union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
        return keep.frame(
            pairs.select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.round(inter / union, 4).alias("jaccard"),
            ).localCheckpoint(eager=True)
        )

    return memo.shared("jaccard_pairs", spark, sf_dir, build)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for a bounded candidate set: same ``source``
    and doc_id within 60 (sources stripe every N docs, so this yields a
    few neighbors per doc) — a deterministic stand-in for "candidates
    from blocking". The Jaccard itself is array_intersect/array_union over
    distinct token sets, computed post-join on already-tokenized arrays.

    Scale: candidate generation is an equi-join on ``source`` with a
    range predicate, not a cross product; at 100 TB the blocking key
    would be an LSH bucket (see minhash_lsh_candidates below) — the
    verify stage here is identical either way. The pair table is the
    memoized shared substrate ``jaccard_pairs_raw`` (its other two
    consumers — the CC cluster build and the two-batch label fold —
    previously checkpointed identical copies)."""
    return jaccard_pairs_raw(spark, sf_dir)


_JACCARD_SQL = r"""
    WITH t AS (
        SELECT doc_id, source,
               list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
    FROM t a JOIN t b
      ON a.source = b.source
     AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 60
"""


# ---------------------------------------------------------------------------
# SimHash (oracle-able sketch: nibble-parity of sha256)
# ---------------------------------------------------------------------------


def _simhash_bits(docs: DataFrame) -> DataFrame:
    """``(doc_id, simhash_bits)`` — the shared 64-bit SimHash kernel
    behind both the ``simhash`` sketch query and the banded
    ``simhash_hamming_pairs`` near-dup join. Map-only: tokens never
    leave their partition."""
    # Materialize the per-token hash array in its own projection: HOF
    # lambdas defeat common-subexpression elimination, so inlining this
    # into the 64 bit-votes would recompute every sha256 64×.
    # Each token's hash is decoded into a ±1 vote vector ONCE: split the
    # 64-char hex into chars (one pass) and test the nibble high-bit
    # arithmetically — hex '8','9' are ascii 56,57 and 'a'-'f' 97-102
    # while '0'-'7' are 48-55, so ascii >= 56 ⇔ nibble ∈ [8,15].
    # r2 instead ran 64 separate aggregates each doing substr(i) +
    # rlike("[89a-f]") per token: substr on UTF8String is O(position), so
    # that was ~64²/2 char-seeks PLUS a regex call per (token × bit) —
    # this shape is one decode + 64 adds per token (measured ~20× less CPU).
    votes_of = lambda w: F.slice(  # noqa: E731  (slice guards a trailing "" from split)
        F.transform(
            F.split(F.sha2(F.lower(w), 256), ""),
            lambda ch: F.when(F.ascii(ch) >= 56, 1).otherwise(-1),
        ),
        1,
        64,
    )
    hashed = docs.select(
        "doc_id",
        F.transform(_tokens(), votes_of).alias("tok_votes"),
    )
    sums = F.aggregate(
        F.col("tok_votes"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    bits = F.transform(sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0")))
    return hashed.select("doc_id", F.array_join(bits, "").alias("simhash_bits"))


def simhash_sigs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized eager checkpoint of the per-doc SimHash signature
    table — the substrate both simhash consumers start from: the
    registered [[simhash]] sketch query and [[simhash_hamming_pairs]]
    read the identical (doc_id, simhash_bits) table."""
    from ..functions import spread_for_cpu

    return memo.shared(
        "simhash_sigs",
        spark,
        sf_dir,
        lambda keep: keep.frame(
            _simhash_bits(
                spread_for_cpu(load_table(spark, sf_dir, "documents"))
            ).localCheckpoint(eager=True)
        ),
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document. Each token votes ±1 on 64 bit
    positions; the vote for bit i is the high bit of sha256(token)'s i-th
    hex nibble (portable across engines, unlike xxhash64). Sign of the
    vote sum → bit (see ``_simhash_bits``). The table is the memoized
    shared substrate ``simhash_sigs_raw`` ([[simhash_hamming_pairs]]
    previously checkpointed an identical copy)."""
    return simhash_sigs_raw(spark, sf_dir)


_SIMHASH_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                              w -> sha256(lower(w))) AS hs
        FROM documents
    )
    SELECT doc_id,
           list_aggregate(
               list_transform(range(1, 65), i ->
                   CASE WHEN list_sum(list_transform(hs, h ->
                        CASE WHEN substr(h, i, 1) SIMILAR TO '[89a-f]' THEN 1 ELSE -1 END)) > 0
                   THEN '1' ELSE '0' END),
               'string_agg', '') AS simhash_bits
    FROM t
"""


_SIMHASH_BANDS = 4  # 16 bits each; pigeonhole-exact for hamming <= 3
_SIMHASH_MAX_HAMMING = 3
#: Buckets larger than this split again on the remaining 48 bits (4
#: sub-bands of 12): templated/short docs collapse into hot band
#: buckets, and a flat in-bucket self-join there is O(bucket²).
_SIMHASH_BUCKET_CAP = 64
_SIMHASH_SUBBANDS = 4


def _simhash_candidates(
    sigs: DataFrame, bucket_cap: int = _SIMHASH_BUCKET_CAP
) -> DataFrame:
    """Distinct ``(doc_a, doc_b, bits_a, bits_b)`` candidate pairs with
    PERFECT recall for Hamming ≤ ``_SIMHASH_MAX_HAMMING``, two-level:

    Level 1: posexplode 4 disjoint 16-bit bands → buckets keyed on
    (band_idx, band_bits). Pigeonhole: ≤3 differing bits across 4
    bands leaves ≥1 band identical, so every qualifying pair shares a
    bucket. Buckets at or under ``bucket_cap`` self-join flat.

    Level 2 (the hot-bucket split): a bucket OVER the cap re-bands its
    members on the remaining 48 bits — 4 sub-bands of 12 bits. For a
    qualifying pair in that bucket, all ≤3 differing bits lie in those
    48 bits, so pigeonhole again guarantees ≥1 identical sub-band:
    the (band, band_bits, sub_idx, sub_bits) equi-join keeps perfect
    recall while the verify cost drops from O(bucket²) to
    O(Σ sub-bucket²). Recall is structural at every level — no
    tuning knob trades it away; ``bucket_cap`` trades only fan-out
    (4× rows for hot-bucket members) against join width.
    """
    band_w = 64 // _SIMHASH_BANDS
    bands = sigs.select(
        "doc_id",
        "simhash_bits",
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash_bits", b * band_w + 1, band_w)
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    sizes = bands.groupBy("band_idx", "band_bits").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    sized = bands.join(sizes, ["band_idx", "band_bits"])
    small = sized.where(F.col("bucket_n") <= bucket_cap)

    def _pairs(side: DataFrame, keys: list[str]) -> DataFrame:
        return (
            side.alias("x")
            .join(
                side.alias("y"),
                [F.col(f"x.{k}") == F.col(f"y.{k}") for k in keys]
                + [F.col("x.doc_id") < F.col("y.doc_id")],
                "inner",
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.col("x.simhash_bits").alias("bits_a"),
                F.col("y.simhash_bits").alias("bits_b"),
            )
        )

    flat = _pairs(small, ["band_idx", "band_bits"])

    # Hot buckets: re-band each member on the 48 bits OUTSIDE its band
    # (positions are 1-based; band_idx is a column, so substring
    # arithmetic goes through expr).
    sub_w = (64 - band_w) // _SIMHASH_SUBBANDS
    rest = F.expr(
        f"concat(substring(simhash_bits, 1, band_idx * {band_w}),"
        f" substring(simhash_bits, band_idx * {band_w} + {band_w} + 1,"
        f" {64 - band_w}))"
    )
    subs = (
        sized.where(F.col("bucket_n") > bucket_cap)
        .withColumn("rest_bits", rest)
        .select(
            "doc_id",
            "simhash_bits",
            "band_idx",
            "band_bits",
            F.posexplode(
                F.array(
                    *[
                        F.substring("rest_bits", s * sub_w + 1, sub_w)
                        for s in range(_SIMHASH_SUBBANDS)
                    ]
                )
            ).alias("sub_idx", "sub_bits"),
        )
    )
    split = _pairs(subs, ["band_idx", "band_bits", "sub_idx", "sub_bits"])
    return flat.unionByName(split).distinct()


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs whose 64-bit SimHashes differ in at most
    ``_SIMHASH_MAX_HAMMING`` bits — via banded LSH that is EXACT, not
    approximate: with 4 disjoint 16-bit bands and a threshold of 3
    differing bits, the pigeonhole principle guarantees at least one
    band is untouched, so every qualifying pair shares an exact band
    value and the banded equi-join has perfect recall (Manku et al.,
    WWW'07 — the web-scale simhash dedup shape). The oracle computes
    the same banding independently, so a recall hole would hash-fail.

    Plan: one map-only sketch pass (``_simhash_bits``, eagerly
    checkpointed so the 64-vote aggregation runs once, not once per
    self-join side) → two-level banded candidate join
    (``_simhash_candidates``: flat equi-join for normal buckets, a
    second-level 12-bit sub-band split for buckets over
    ``_SIMHASH_BUCKET_CAP`` — templated/short docs collapse into hot
    buckets, and the split keeps the verify cost O(Σ sub-bucket²)
    with structurally perfect recall) → distinct pairs → exact
    Hamming verify JVM-side. Never all-pairs: at sf0.01 the bucket
    join yields ~5.4k candidates against ~1.4M possible pairs.
    """
    # The signature table comes from the SHARED memoized checkpoint
    # (simhash_sigs_raw) — this query previously built and checkpointed
    # an identical private copy (~0.5 s/pass at sf0.1).
    sigs = simhash_sigs_raw(spark, sf_dir)
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("bits_a"), ""),
                F.split(F.col("bits_b"), ""),
                lambda x, y: x != y,
            ),
            lambda d: d,
        )
    ).cast("long")
    return (
        _simhash_candidates(sigs)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
    )


def _simhash_pairs_sql() -> str:
    """DuckDB replay: same sketch (the ``simhash`` oracle's CTE), same
    4-band split, same Hamming verify — generated from the same
    constants so band/threshold changes cannot drift."""
    band_w = 64 // _SIMHASH_BANDS
    return rf"""
    WITH t AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                              w -> sha256(lower(w))) AS hs
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               list_aggregate(
                   list_transform(range(1, 65), i ->
                       CASE WHEN list_sum(list_transform(hs, h ->
                            CASE WHEN substr(h, i, 1) SIMILAR TO '[89a-f]'
                                 THEN 1 ELSE -1 END)) > 0
                       THEN '1' ELSE '0' END),
                   'string_agg', '') AS bits
        FROM t
    ),
    bands AS (
        SELECT doc_id, bits, b AS band_idx,
               substr(bits, b * {band_w} + 1, {band_w}) AS band_bits
        FROM sig, range(0, {_SIMHASH_BANDS}) r(b)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               x.bits AS bits_a, y.bits AS bits_b
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_bits = y.band_bits
         AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(bits_a, i, 1) <> substr(bits_b, i, 1)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
    FROM cand
    WHERE list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(bits_a, i, 1) <> substr(bits_b, i, 1)
                    THEN 1 ELSE 0 END)) <= {_SIMHASH_MAX_HAMMING}
"""


_SIMHASH_PAIRS_SQL = _simhash_pairs_sql()


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path; rows-only for the driver, recall-tested
# in pytest with planted duplicates)
# ---------------------------------------------------------------------------

_MINHASH_K = 16  # signature length
_LSH_BANDS = 4  # bands of r = K/BANDS rows each
_SHINGLE_N = 3  # word-shingle width


def _shingles(toks: Column, n: int = _SHINGLE_N) -> Column:
    """Word n-gram shingles via higher-order functions (no explode)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def _hash_slices(sh_col: Column) -> Column:
    """Per-shingle 128-hex-char digest: sha256('a|'+s) ‖ sha256('b|'+s).

    The k=16 min-hash streams are the 16 non-overlapping 8-hex-char
    (32-bit) slices of this concatenation. ENGINE-PORTABLE by
    construction (r8 verdict item 2, the CMS trick applied to strings):
    both Spark's ``sha2`` and DuckDB's ``sha256`` emit the same
    lowercase hex, and a fixed-width lowercase-hex slice orders
    lexicographically exactly as its integer value — so ``array_min``
    over slices IS min-hash, with no hex→int parse that DuckDB lacks
    (the reason xxhash64 forced rows-only checks through r8). Two
    sha256 calls per shingle replace sixteen xxhash64 calls."""
    return F.transform(
        sh_col,
        lambda s: F.concat(
            F.sha2(F.concat(F.lit("a|"), s), 256),
            F.sha2(F.concat(F.lit("b|"), s), 256),
        ),
    )


def _sig_slice(hs_col: Column, i: int) -> Column:
    """Min-hash i (0..15): min over the i-th 8-hex-char slice."""
    return F.array_min(F.transform(hs_col, lambda h: F.substring(h, 8 * i + 1, 8)))


def minhash_signature(df: DataFrame, text_col: str = "text", k: int = _MINHASH_K) -> DataFrame:
    """Append ``signature: array<bigint>`` — k min-hashes over word
    shingles, all computed map-side (array_min over a transform; zero
    shuffles). Each hash stream is a 32-bit slice of two sha256 digests
    per shingle (`_hash_slices`) — the engine-portable scheme the
    value-oracled ``minhash_lsh_candidates`` uses, parsed to BIGINT
    here for a numeric signature API.

    The token, shingle and digest arrays are each staged behind a
    plan_barrier fence: a bare projection is NOT a materialization
    point — CollapseProject would inline the shingle build into all k
    per-seed transforms (and the regex split into every shingle
    position), and a deterministic guard gets alias-substituted and
    pushed; the nondeterministic fence is the reliable boundary (see
    functions.plan_barrier)."""
    from ..functions import plan_barrier

    staged = plan_barrier(
        plan_barrier(
            plan_barrier(
                df.withColumn("__t", F.split(F.trim(F.col(text_col)), _WS))
            ).withColumn("__sh", _shingles(F.col("__t")))
        ).withColumn("__hs", _hash_slices(F.col("__sh")))
    )
    if k > _MINHASH_K:
        raise ValueError(f"k={k} exceeds the {_MINHASH_K} portable hash streams")
    sig = F.array(
        *[
            F.conv(_sig_slice(F.col("__hs"), i), 16, 10).cast("long")
            for i in range(k)
        ]
    )
    return staged.withColumn("signature", sig).drop("__hs", "__sh", "__t")


def shingle3_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized inverted-index substrate every 3-shingle
    consumer starts from: (doc_id, g) rows, g the sha256 hex of a
    distinct within-doc 3-token shingle, docs with < 3 tokens excluded.
    [[shingle_containment_pairs]] (here) and [[doc_novelty]] (textops)
    read the identical table (~2 s of tokenize+sha256 per build at
    sf0.1), so it is memoized. Token stage behind ``plan_barrier`` so
    CollapseProject cannot re-inline the split into per-position
    lambdas (SCALE.md trap 2); ``spread_for_cpu`` fans the sha256-bound
    map across cores."""
    from ..functions import plan_barrier, spread_for_cpu

    def build(keep):
        docs = spread_for_cpu(load_table(spark, sf_dir, "documents"))
        toks = _tokens()
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("t")) - (_CONT_K - 1)),
                lambda i: F.sha2(
                    F.array_join(F.slice(F.col("t"), i, _CONT_K), " "), 256
                ),
            )
        )
        return keep.frame(
            plan_barrier(
                docs.where(F.size(toks) >= _CONT_K).select(
                    "doc_id", toks.alias("t")
                )
            )
            .select("doc_id", F.explode(grams).alias("g"))
            .localCheckpoint()
        )

    return memo.shared("shingle3", spark, sf_dir, build)


def _staged_shingles_and_bands(spark: SparkSession, sf_dir: str):
    """Shared (staged, bands) tables under [[minhash_lsh_candidates]]
    and [[minhash_index_two_batch]]: ``staged`` = (doc_id, distinct
    shingle array, digest array) eagerly checkpointed so the
    2-sha256-per-shingle work runs once; ``bands`` = exploded
    (doc_id, band_idx, band_hash) posting rows, also checkpointed —
    the exact table a persisted LSH band index stores. Memoized: five
    registered consumers (those two, minhash_jaccard_estimate_check,
    minhash_recall_check and the curation pipeline through
    lsh_candidates) would rebuild the identical tables otherwise, ~1 s
    per build steady at sf0.1."""
    from ..functions import plan_barrier, spread_for_cpu

    def build(keep):
        docs = spread_for_cpu(load_table(spark, sf_dir, "documents"))
        r = _MINHASH_K // _LSH_BANDS
        staged = keep.frame(
            plan_barrier(
                plan_barrier(docs.select("doc_id", _tokens().alias("t"))).select(
                    "doc_id", F.array_distinct(_shingles(F.col("t"))).alias("sh")
                )
            )
            .withColumn("hs", _hash_slices(F.col("sh")))
            .localCheckpoint()
        )
        sigs = [_sig_slice(F.col("hs"), i) for i in range(_MINHASH_K)]
        bands = staged.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws("|", *[sigs[b * r + j] for j in range(r)])
                        for b in range(_LSH_BANDS)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        ).localCheckpoint()
        return staged, keep.frame(bands)

    return memo.shared("minhash_stage", spark, sf_dir, build)


def _jaccard_verify(cand: DataFrame, staged: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard verify stage shared by the one-shot and
    incremental LSH paths: join candidate pairs back to the staged
    shingle arrays, keep pairs at >= 0.5."""
    sets = staged.select("doc_id", "sh")
    return (
        cand.join(
            sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sh", "sh_a"
            ),
            "doc_a",
        )
        .join(
            sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sh", "sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("shingle_jaccard"),
        )
        .where(F.col("shingle_jaccard") >= 0.5)
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, Jaccard-verified.

    Plan: signature (map-side) → explode K/r band keys → shuffle on
    (band, band_key) → self-join within buckets → distinct pairs →
    exact shingle-Jaccard verify ≥ 0.5. The only all-pairs work happens
    inside a bucket, whose expected size is O(duplicate cluster), not
    O(corpus) — this is the 100 TB dedup shape (MMDS ch.3 LSH banding).

    VALUE-ORACLED as of round 9: the hash streams are 32-bit slices of
    two sha256 digests per shingle (`_hash_slices`), which DuckDB
    replays bit-exactly — fixed-width lowercase hex orders as its
    integer value, so string ``array_min`` IS min-hash and the band key
    is the '|'-joined slice quadruple. This retired the r2–r8
    rows-only status (xxhash64 has no DuckDB replay). Determinism and
    recall stay pinned by ``minhash_recall_check``.

    The shingle sets and band keys are PERSISTED and eagerly
    materialized: the bands self-join reads both sides from cache, and
    the Jaccard verify reuses the same staged shingle arrays — the
    2×|sh| sha256 signature work runs exactly once regardless of plan
    shape. (r2 relied on ReusedExchange, which the driver's run didn't
    get: everything computed twice, 80.7 s. Explicit persist removes
    the fragility; at 100 TB this is persist-to-disk of a sketch that
    is ~100× smaller than the corpus text.)
    """
    staged, bands = _staged_shingles_and_bands(spark, sf_dir)
    # Eager checkpoints inside the helper: the self-join's two sides
    # read materialized blocks, so the k=16 signature lineage computes
    # exactly once with no dependence on cache-fill races.
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
            "inner",
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard_verify(cand, staged)


def minhash_index_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch NEAR-DUP dedup against a PERSISTED LSH band index —
    the incremental production shape the r10 ledger called for: instead
    of re-banding history per crawl increment, the (doc_id, band_idx,
    band_hash) posting rows persist (real parquet state, atomic
    overwrites), each new batch finds its candidates as intra-batch bucket
    pairs ∪ batch×INDEX bucket joins, and then appends its own postings
    to the index. Two id-ordered batches here; because every cross-
    batch bucket pair is found when its second member arrives, the
    union of per-batch candidates equals the one-shot candidate set
    EXACTLY — so after the shared Jaccard verify the driver oracle is
    [[minhash_lsh_candidates]]'s own SQL, hash-checked.

    Scale shape: per batch, one bucket-key join of the BATCH postings
    against the index (index side pre-bucketable on (band_idx,
    band_hash) at 100 TB — co-located probe, no index shuffle) plus the
    batch-internal self-join; history text is never re-shingled — the
    index rows are ~100× smaller than the corpus. The split median is
    one scalar collect."""
    import shutil
    import tempfile
    from pathlib import Path

    from ..operators.writer import overwrite_table, read_table

    staged, bands = _staged_shingles_and_bands(spark, sf_dir)
    mid = staged.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    def bucket_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.alias("x")
            .join(
                right.alias("y"),
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
                "inner",
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    tmp = tempfile.mkdtemp(prefix="lshidx_q_")
    index_path = f"{tmp}/band_index"
    try:
        pair_frames = []
        for batch in (
            bands.where(F.col("doc_id") <= mid),
            bands.where(F.col("doc_id") > mid),
        ):
            # No batch checkpoint: the batch is a cheap filter over the
            # already-checkpointed memoized band table; its consumers
            # (index probe, intra-batch self-join, index append) all
            # evaluate within this iteration while `bands` is stable
            # (same finding as novelty_two_batch — the eager copy of
            # the posting rows cost more than the repeated filters).
            if Path(index_path).exists():
                idx = read_table(spark, index_path)
                new_pairs = bucket_pairs(idx, batch).unionByName(
                    bucket_pairs(batch, batch)
                )
                merged = idx.unionByName(batch)
            else:
                new_pairs = bucket_pairs(batch, batch)
                merged = batch
            pair_frames.append(
                new_pairs.distinct().localCheckpoint(eager=True)
            )
            overwrite_table(merged, index_path)
        cand = pair_frames[0].unionByName(pair_frames[1]).distinct()
        return _jaccard_verify(cand, staged).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _minhash_core_ctes() -> str:
    """Shared DuckDB CTE chain for the LSH family: defines ``toks``,
    ``sh`` (distinct shingle arrays), ``hs`` (per-shingle double-sha256
    digests), ``sig`` (the 16 min-hash slices), ``bands`` (band keys),
    and ``cand`` (distinct bucket pairs) — composed by the LSH oracle
    and the signature-accuracy gate, generated from the same constants
    as the Spark plan so k/bands/shingle-width changes cannot drift."""
    r = _MINHASH_K // _LSH_BANDS
    sig_cols = ",\n               ".join(
        f"list_aggregate(list_transform(h, v -> v[{8 * i + 1} : {8 * i + 8}]),"
        f" 'min') AS s{i}"
        for i in range(_MINHASH_K)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('|', "
        + ", ".join(f"s{b * r + j}" for j in range(r))
        + ") AS band_key FROM sig"
        for b in range(_LSH_BANDS)
    )
    return rf"""toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {_SHINGLE_N}, 0) + 2),
                   i -> array_to_string(t[i : i + {_SHINGLE_N} - 1], ' ')
               )) AS s
        FROM toks
    ),
    hs AS (
        SELECT doc_id,
               list_transform(s, x ->
                   concat(sha256(concat('a|', x)), sha256(concat('b|', x)))) AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM hs
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
    )"""


def _minhash_lsh_sql() -> str:
    """DuckDB replay of the full LSH pipeline — the shared CTE chain
    plus the exact shingle-Jaccard verify at >= 0.5."""
    return rf"""
    WITH {_minhash_core_ctes()},
    j AS (
        SELECT c.doc_a, c.doc_b,
               round(len(list_intersect(sa.s, sb.s)) * 1.0
                     / len(list_distinct(list_concat(sa.s, sb.s))), 4)
                   AS shingle_jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, shingle_jaccard FROM j WHERE shingle_jaccard >= 0.5
"""


_MINHASH_LSH_SQL = _minhash_lsh_sql()


#: Band counts swept by [[minhash_band_sweep]]; rows per band =
#: _MINHASH_K / b. Hierarchical slicing makes candidate sets NESTED
#: (a b-band match is a concatenation of consecutive finer bands, so
#: it implies a match in every finer config): cand(2,8) ⊆ cand(4,4)
#: ⊆ cand(8,2) — the sweep is monotone by construction.
_BAND_SWEEP_CONFIGS = (2, 4, 8)


def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bands, rows) tuning report an LSH dedup deployment actually
    produces — the [[ivf_nprobe_sweep]] idea applied to MinHash
    banding: for each config b ∈ {2, 4, 8} (r = 16/b), the candidate
    volume (cost: every candidate pays an exact-Jaccard verify), the
    verified yield at the 0.5 threshold (benefit), precision, and
    coverage relative to the most permissive config — the numbers that
    pick the production (b, r) against the S-curve
    P(candidate) = 1 − (1 − j^r)^b.

    One pass: signatures come from the SHARED memoized staged table
    (the 2-sha256-per-shingle work is not re-paid per config), each
    config re-slices the same 16 min-hash streams hierarchically, and
    the per-config bucket self-joins stay O(Σ bucket²) — measured
    max bucket 15 / Σ bucket² 46k at sf0.1 even at r = 2. Docs with no
    shingles carry the empty band key and are excluded (no signal to
    tune on; the verify stage would NULL-drop their pairs anyway).
    All-integer output; the DuckDB oracle replays every config from
    the same hash streams."""
    staged, _ = _staged_shingles_and_bands(spark, sf_dir)
    sigs = [_sig_slice(F.col("hs"), i) for i in range(_MINHASH_K)]
    ref_b = max(_BAND_SWEEP_CONFIGS)

    def config_counts(b: int):
        r = _MINHASH_K // b
        bands = staged.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws("|", *[sigs[i * r + j] for j in range(r)])
                        for i in range(b)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        ).where(F.col("band_hash") != "")
        cand = (
            bands.alias("x")
            .join(
                bands.alias("y"),
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
                "inner",
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
        )
        n_ver = _jaccard_verify(cand, staged).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_verified_pairs")
        )
        return n_cand.crossJoin(n_ver)

    ref = config_counts(ref_b).select(
        F.col("n_verified_pairs").alias("ref_verified")
    )
    rows = None
    for b in _BAND_SWEEP_CONFIGS:
        row = (
            config_counts(b)
            .crossJoin(F.broadcast(ref))
            .select(
                F.lit(b).alias("n_bands"),
                F.lit(_MINHASH_K // b).alias("rows_per_band"),
                "n_candidate_pairs",
                "n_verified_pairs",
                F.expr(
                    "n_verified_pairs * 1000"
                    " div greatest(n_candidate_pairs, 1)"
                ).alias("precision_permille"),
                F.expr(
                    "n_verified_pairs * 1000 div greatest(ref_verified, 1)"
                ).alias("coverage_permille"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def _band_sweep_sql() -> str:
    """DuckDB replay of [[minhash_band_sweep]]: the shared hash-stream
    CTEs, then per config a bands/cand/verify chain generated from the
    same constants, unioned with the b = max reference for coverage."""
    core = _minhash_core_ctes()
    # the shared chain's own `bands`/`cand` (production config) are
    # unused here; per-config chains get their own names.
    parts = [core]
    for b in _BAND_SWEEP_CONFIGS:
        r = _MINHASH_K // b
        band_selects = "\n        UNION ALL ".join(
            f"SELECT doc_id, {i} AS band_idx, concat_ws('|', "
            + ", ".join(f"s{i * r + j}" for j in range(r))
            + ") AS band_key FROM sig"
            for i in range(b)
        )
        parts.append(f"""bands_{b} AS (
        SELECT * FROM ({band_selects}) WHERE band_key <> ''
    )""")
        parts.append(f"""cand_{b} AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands_{b} x JOIN bands_{b} y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
    )""")
        parts.append(f"""counts_{b} AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand_{b})
                   AS n_candidate_pairs,
               (SELECT CAST(count(*) AS BIGINT)
                FROM cand_{b} c
                JOIN sh sa ON sa.doc_id = c.doc_a
                JOIN sh sb ON sb.doc_id = c.doc_b
                WHERE round(len(list_intersect(sa.s, sb.s)) * 1.0
                      / len(list_distinct(list_concat(sa.s, sb.s))), 4)
                      >= 0.5) AS n_verified_pairs
    )""")
    ref_b = max(_BAND_SWEEP_CONFIGS)
    selects = "\n    UNION ALL ".join(
        f"SELECT {b} AS n_bands, {_MINHASH_K // b} AS rows_per_band,"
        f" n_candidate_pairs, n_verified_pairs,"
        f" n_verified_pairs * 1000 // greatest(n_candidate_pairs, 1)"
        f" AS precision_permille,"
        f" n_verified_pairs * 1000"
        f" // greatest((SELECT n_verified_pairs FROM counts_{ref_b}), 1)"
        f" AS coverage_permille"
        f" FROM counts_{b}"
        for b in _BAND_SWEEP_CONFIGS
    )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    {selects}
"""


_BAND_SWEEP_SQL = _band_sweep_sql()


#: Gate bound for the k=16 signature estimator: per-pair std is
#: √(p(1−p)/16) ≤ 0.125, so a mean absolute error ≤ 250‰ holds with
#: huge margin on any candidate set; a broken hash/slice/banding bug
#: blows straight past it (a decorrelated estimator averages ~333‰
#: error against uniform exact values).
_MH_EST_MAX_MAE = 250


def minhash_jaccard_estimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-ACCURACY gate for the MinHash signature itself —
    complements [[minhash_recall_check]] (which gates the BANDING's
    candidate recall): over the LSH candidate pairs, compare the
    signature estimate of Jaccard (matching components / k, the
    textbook MinHash estimator) against the exact shingle Jaccard, and
    gate the mean absolute error. This is the "measure the sketch"
    number a dedup pipeline publishes so k is sized by evidence:
    k = 16 gives per-pair std ≤ 125‰, so the MAE gate at
    ``_MH_EST_MAX_MAE``‰ is loose for a correct implementation and
    far beyond any broken one (see the constant's note).

    All arithmetic integer permille (matches·1000 div k; exact
    Jaccard as 1000·|∩| div |∪| — truncating div both engines), so
    the report is value-oracled bit-exactly. Scale shape: reuses the
    staged signatures and band index (materialized once); the
    comparison touches only candidate pairs — bucket-bounded, never
    all-pairs."""
    staged, bands = _staged_shingles_and_bands(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
            "inner",
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sigs = staged.select(
        "doc_id",
        F.array(
            *[_sig_slice(F.col("hs"), i) for i in range(_MINHASH_K)]
        ).alias("sig"),
        "sh",
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("sh").alias("sh_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("sh").alias("sh_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    per_pair = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            matches.cast("bigint").alias("m"),
            inter.cast("bigint").alias("i"),
            union.cast("bigint").alias("u"),
        )
        .select(
            F.expr(f"CAST(m * 1000 div {_MINHASH_K} AS BIGINT)").alias("est"),
            F.expr("CAST(i * 1000 div u AS BIGINT)").alias("exact"),
        )
    )
    return per_pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(sum(abs(est - exact)) div count(*) AS BIGINT)").alias(
            "mae_permille"
        ),
        F.expr("CAST(sum(est) div count(*) AS BIGINT)").alias(
            "mean_est_permille"
        ),
        F.expr("CAST(sum(exact) div count(*) AS BIGINT)").alias(
            "mean_exact_permille"
        ),
        F.expr(
            f"CAST(sum(abs(est - exact)) div count(*) AS BIGINT)"
            f" <= {_MH_EST_MAX_MAE}"
        ).alias("gate_ok"),
    )


def _mh_estimate_sql() -> str:
    k = _MINHASH_K
    sig_list = ", ".join(f"s{i}" for i in range(k))
    return rf"""
    WITH {_minhash_core_ctes()},
    pp AS (
        SELECT CAST(len(list_filter(
                   list_zip(a.sig, b.sig),
                   z -> z[1] = z[2])) * 1000 // {k} AS BIGINT) AS est,
               CAST(len(list_intersect(sa.s, sb.s)) * 1000
                    // (len(sa.s) + len(sb.s)
                        - len(list_intersect(sa.s, sb.s))) AS BIGINT)
                   AS exact
        FROM cand c
        JOIN (SELECT doc_id, [{sig_list}] AS sig FROM sig) a
          ON a.doc_id = c.doc_a
        JOIN (SELECT doc_id, [{sig_list}] AS sig FROM sig) b
          ON b.doc_id = c.doc_b
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(est - exact)) // count(*) AS BIGINT) AS mae_permille,
           CAST(sum(est) // count(*) AS BIGINT) AS mean_est_permille,
           CAST(sum(exact) // count(*) AS BIGINT) AS mean_exact_permille,
           (CAST(sum(abs(est - exact)) // count(*) AS BIGINT)
                <= {_MH_EST_MAX_MAE}) AS gate_ok
    FROM pp
"""


_MH_ESTIMATE_SQL = _mh_estimate_sql()


def minhash_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level Jaccard estimates from merged MinHash
    signatures — sketch algebra on the portable hash scheme: the
    signature of a UNION of shingle sets is the elementwise MIN of the
    per-doc signatures, so each feed's signature folds per batch
    (groupBy(source).min) and cross-feed overlap is estimated WITHOUT
    ever intersecting shingle sets: Ĵ = (# matching slices)/k.
    Integer permille output keeps it engine-exact.

    Scale: this is the `sketch_union_rollup` story applied to set
    similarity — per-source state is k slices (~128 bytes), the
    estimate join is |sources|² over that tiny sketch table, and
    history never re-scans (signatures are mergeable across batches,
    same contract as `merge_fingerprint_index`). The per-doc shingle +
    digest work is the same map-side pipeline `minhash_lsh_candidates`
    runs; nothing here shuffles more than (source, 16 slices) rows."""
    docs = load_table(spark, sf_dir, "documents")
    # Reuse the SHARED band index (memo "minhash_stage"): band_hash is
    # concat_ws('|', slice[b·r] … slice[b·r+r−1]) of the SAME 8-hex
    # slices this query needs, so the per-doc signature is a SPLIT of
    # the checkpointed band rows — 0.06 s vs 2.8 s for re-deriving the
    # 16 array_min/substr slices from the digest arrays (16 interpreted
    # HOF passes; measured sf0.1). nullif('') restores the NULL
    # signature of shingle-less docs (concat_ws renders all-NULL slices
    # as '', and min/equality must skip them exactly as the digest path
    # did). The source tag joins back on doc_id (narrow, 1 row/doc).
    _staged, bands = _staged_shingles_and_bands(spark, sf_dir)
    r = _MINHASH_K // _LSH_BANDS
    sl = F.split(F.expr("nullif(band_hash, '')"), r"\|")
    per_doc = (
        bands.select("doc_id", "band_idx", sl.alias("sl"))
        .groupBy("doc_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("band_idx") == b, F.col("sl")[j])
                ).alias(f"s{b * r + j}")
                for b in range(_LSH_BANDS)
                for j in range(r)
            ]
        )
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", *[f"s{i}" for i in range(_MINHASH_K)])
    )
    sig = per_doc.groupBy("source").agg(
        *[F.min(f"s{i}").alias(f"s{i}") for i in range(_MINHASH_K)]
    )
    a, b = sig.alias("a"), sig.alias("b")
    matches = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            matches.alias("matching_slices"),
        )
        .select(
            "source_a",
            "source_b",
            F.col("matching_slices").cast("int").alias("matching_slices"),
            F.expr(
                f"CAST(matching_slices * 1000 DIV {_MINHASH_K} AS BIGINT)"
            ).alias("est_jaccard_permille"),
        )
    )


def _minhash_source_sql() -> str:
    sig_cols = ",\n               ".join(
        f"min(list_aggregate(list_transform(h, v -> v[{8 * i + 1} : {8 * i + 8}]),"
        f" 'min')) AS s{i}"
        for i in range(_MINHASH_K)
    )
    match_expr = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_MINHASH_K)
    )
    return rf"""
    WITH toks AS (
        SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    hs AS (
        SELECT source,
               list_transform(
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - {_SHINGLE_N}, 0) + 2),
                       i -> array_to_string(t[i : i + {_SHINGLE_N} - 1], ' ')
                   )),
                   x -> concat(sha256(concat('a|', x)), sha256(concat('b|', x)))
               ) AS h
        FROM toks
    ),
    sig AS (
        SELECT source,
               {sig_cols}
        FROM hs
        GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({match_expr} AS INTEGER) AS matching_slices,
           CAST(({match_expr}) * 1000 // {_MINHASH_K} AS BIGINT)
               AS est_jaccard_permille
    FROM sig a JOIN sig b ON a.source < b.source
"""


_MINHASH_SOURCE_SQL = _minhash_source_sql()


def minhash_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall gate for ``minhash_lsh_candidates`` — the
    ``ann_recall_check`` pattern applied to LSH dedup, closing the last
    probabilistic query without a driver-checkable accuracy row.

    Ground truth is EXACT, not sampled: every pair with 3-word-shingle
    Jaccard ≥ 0.5, computed as a sparse set-similarity join — the
    inverted index self-joins on the shingle and the per-pair match
    count IS the intersection size (the arrays are pre-distincted, so
    each (doc, shingle) posting is unique), |A∪B| = |A|+|B|−|A∩B|.
    Jaccard > 0 requires a shared shingle, so the index join provably
    misses nothing, and no pair ever materializes its arrays (a first
    cut re-joined full shingle arrays per candidate and spent 8 s at
    sf0.1 intersecting them; the count form runs ~2 s). The LSH pairs
    are Jaccard-verified ⊆ truth by construction, so recall is the only
    free metric. Everything is deterministic (sha256-slice signatures,
    deterministic banding), so the boolean is stable: measured 1.00 at
    BOTH sf0.001 and sf0.01 with the r9 portable hashes (was 0.93/0.96
    under xxhash64) against a gate tightened 0.7 → 0.9.

    Scale: the truth side is the expensive half (the self-join fans out
    per posting) — at 100 TB the gate runs on a sampled corpus slice,
    while the LSH side is the production path; same shape as the ANN
    gate's sampled query set."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions import plan_barrier

    staged = (
        plan_barrier(docs.select("doc_id", _tokens().alias("t")))
        .select("doc_id", F.array_distinct(_shingles(F.col("t"))).alias("sh"))
        .localCheckpoint()
    )
    inv = staged.select("doc_id", F.explode("sh").alias("shingle"))
    pairs = (
        inv.alias("x")
        .join(
            inv.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = staged.select("doc_id", F.size("sh").alias("sz"))
    truth = (
        pairs.join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "sz", "sz_a"
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "sz", "sz_b"
                )
            ),
            "doc_b",
        )
        .where(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    found = minhash_lsh_candidates(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    joined = truth.join(found, ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        (
            (F.count(F.lit(1)) == 0)
            | (
                F.count("hit") / F.greatest(F.count(F.lit(1)), F.lit(1))
                >= 0.9
            )
        ).alias("recall_ok"),
    )


# Exact truth-pair count replayed in DuckDB (same inverted-index
# candidate generation, same shingle slices); the boolean asserts the
# expected gate outcome so a retrieval regression breaks the hash.
_MINHASH_RECALL_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {_SHINGLE_N}, 0) + 2),
                   i -> array_to_string(t[i : i + {_SHINGLE_N} - 1], ' ')
               )) AS s
        FROM toks
    ),
    inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
        FROM inv x JOIN inv y
          ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    ),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    truth AS (
        SELECT doc_a, doc_b
        FROM pairs
        JOIN sizes sa ON sa.doc_id = pairs.doc_a
        JOIN sizes sb ON sb.doc_id = pairs.doc_b
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, true AS recall_ok
    FROM truth
"""


# ---------------------------------------------------------------------------
# blocked fuzzy join (record linkage by edit distance)
# ---------------------------------------------------------------------------

#: Maximum levenshtein edit distance for a fuzzy match. 3 links
#: one-word typos/substitutions ("cold anvil"~"old anvil") without
#: linking everything to everything inside a block.
_FUZZY_MAX_DIST = 3


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (record linkage) over distinct part
    names: candidate pairs must share a blocking key — the head noun,
    i.e. the last token — and survive if levenshtein edit distance
    <= ``_FUZZY_MAX_DIST``. Blocking is THE scalable fuzzy-join shape:
    distinct the names first (dedup before the join — the candidate
    set is names, not rows), shuffle ONCE on the block key, and compare
    only within blocks — never the all-pairs product (an unblocked
    fuzzy join is a cartesian that no cluster survives at 100 TB).
    Pairs straddling blocks are out of scope BY CONTRACT — the standard
    record-linkage recall/scale trade; widen recall with more or softer
    blocking keys (phonetic codes, length buckets), never by
    unblocking. The edit distance itself runs JVM-side
    (``F.levenshtein`` in codegen) on the few in-block survivors."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    blocked = names.withColumn(
        "block", F.element_at(F.split(F.col("p_name"), " "), -1)
    )
    a = blocked.select(F.col("p_name").alias("name_a"), "block")
    b = blocked.select(F.col("p_name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .where(F.levenshtein("name_a", "name_b") <= _FUZZY_MAX_DIST)
        .select(
            "block",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_distance"),
        )
    )


_FUZZY_SQL = f"""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    b AS (
        SELECT p_name, string_split(p_name, ' ')[-1] AS block FROM n
    )
    SELECT a.block AS block, a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS edit_distance
    FROM b a JOIN b c ON a.block = c.block AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= {_FUZZY_MAX_DIST}
"""


def golden_part_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END — the MDM "golden record" pipeline:
    (1) blocked fuzzy matching ([[fuzzy_name_pairs]] — head-noun
    blocks, levenshtein survivors), (2) transitive closure of the
    match graph (the one min-label CC kernel,
    `operators.maintenance._cc_min_label`, run over EDGE NAMES only —
    singleton names, the overwhelming majority, skip the iteration),
    (3) survivorship: per entity cluster keep the member with the
    highest exact-cents price (completeness proxy), ties to the lowest
    partkey, and report cluster size. This composes three registered,
    individually-oracled stages into the classic dedupe-then-merge
    record-linkage flow.

    Scale: the only all-to-all risk (fuzzy matching) is blocked; CC
    state is one row per MATCHED name; survivorship is a
    cluster-partitioned window + one grain aggregate. String labels
    propagate fine through the CC loop (min over names — binary
    collation on both engines)."""
    from ..operators.maintenance import _cc_min_label

    pairs = (
        fuzzy_name_pairs(spark, sf_dir)
        .select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
        .localCheckpoint()  # feeds both CC directions; blocks re-running the fuzzy join
    )
    edge_labels = _cc_min_label(pairs)
    parts = load_table(spark, sf_dir, "part")
    names = parts.select("p_name").distinct()
    labels = names.join(
        edge_labels, names.p_name == edge_labels.node, "left"
    ).select(
        "p_name", F.coalesce("label", F.col("p_name")).alias("cluster_name")
    )
    members = parts.join(labels, "p_name").withColumn(
        "price_cents", F.floor(F.col("p_retailprice") * 100).cast("bigint")
    )
    stats = members.groupBy("cluster_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.countDistinct("p_name").cast("bigint").alias("n_names"),
    )
    w = Window.partitionBy("cluster_name").orderBy(
        F.desc("price_cents"), "p_partkey"
    )
    golden = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_name",
            F.col("p_partkey").alias("golden_partkey"),
            F.col("p_name").alias("golden_name"),
            F.col("price_cents").alias("golden_price_cents"),
        )
    )
    return golden.join(stats, "cluster_name")


_GOLDEN_SQL = f"""
    WITH RECURSIVE
    n AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS block FROM n),
    pairs AS (
        SELECT a.p_name AS src, c.p_name AS dst
        FROM b a JOIN b c ON a.block = c.block AND a.p_name < c.p_name
        WHERE levenshtein(a.p_name, c.p_name) <= {_FUZZY_MAX_DIST}
    ),
    edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ),
    reach(node, root) AS (
        SELECT p_name, p_name FROM n
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (
        SELECT node AS p_name, min(root) AS cluster_name
        FROM reach GROUP BY node
    ),
    members AS (
        SELECT p.p_partkey, p.p_name, l.cluster_name,
               CAST(floor(p.p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part p JOIN labels l USING (p_name)
    ),
    stats AS (
        SELECT cluster_name,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT p_name) AS BIGINT) AS n_names
        FROM members GROUP BY 1
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY cluster_name
                   ORDER BY price_cents DESC, p_partkey
               ) AS rn
        FROM members
    )
    SELECT g.cluster_name, g.p_partkey AS golden_partkey,
           g.p_name AS golden_name, g.price_cents AS golden_price_cents,
           s.n_parts, s.n_names
    FROM ranked g JOIN stats s USING (cluster_name)
    WHERE g.rn = 1
"""


# ---------------------------------------------------------------------------
# containment (asymmetric near-dup: A-inside-B that Jaccard misses)
# ---------------------------------------------------------------------------

_CONT_K = 3  # word-shingle width
_CONT_DF_MIN, _CONT_DF_MAX = 2, 4  # rare-shingle blocking band
_CONT_FLAG_PERMILLE = 900


def rare_key_candidates(ex: DataFrame, df_min: int, df_max: int) -> DataFrame:
    """Rare-key inverted-index blocking over an exploded (doc_id, g)
    index: keep keys whose document frequency is in [df_min, df_max],
    self-join the tiny postings within each rare key (fan-out ≤
    df_max²/2 per key — the hot-key blowup of common keys is filtered
    BEFORE the join, the standard inverted-index trick), distinct the
    (doc_a < doc_b) pairs. Shared by [[shingle_containment_pairs]] and
    [[winnowing_plagiarism_pairs]]."""
    rare = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(df_min, df_max))
        .select("g")
    )
    postings = ex.join(rare, "g")
    return (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def exact_pair_overlap(ex: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact |S(a) ∩ S(b)| per candidate pair over an exploded
    (doc_id, g) index WITHOUT shipping the sets (r9 finding: joining
    both full arrays back per pair moves candidates × |array| bytes
    through the shuffle): attach per-side sizes, explode only the
    SMALLER side's (doc, g) rows (ties → doc_a, deterministic),
    equi-join against the index on (large-doc, g) — a high-cardinality
    composite key, no hot keys — and the join OUTPUT is exactly the
    |∩| matching rows, counted per pair. Bytes shuffled scale with
    Σ min(|S(a)|,|S(b)|) into the probe and |∩| out of it. Candidates
    must share ≥1 key (rare_key_candidates guarantees it) so the
    inner joins lose no pairs. Returns (doc_a, doc_b, n_sh_a, n_sh_b,
    overlap)."""
    sizes = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    small_first = F.col("n_sh_a") <= F.col("n_sh_b")
    cand_sized = (
        cand.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_sh_a",
            "n_sh_b",
            F.when(small_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_small"),
            F.when(small_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_large"),
        )
    )
    probe = cand_sized.join(
        ex.select(F.col("doc_id").alias("doc_small"), "g"), "doc_small"
    )
    matches = probe.join(
        ex.select(F.col("doc_id").alias("doc_large"), "g"),
        ["doc_large", "g"],
    )
    return matches.groupBy("doc_a", "doc_b", "n_sh_a", "n_sh_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("overlap")
    )


def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: C(A→B) = |S(A)∩S(B)| / |S(A)| over
    distinct 3-token shingles. Jaccard misses the quote/subset case — a
    short doc fully embedded in a long one has tiny |∩|/|∪| but
    containment ≈ 1 from the short side; every curation pipeline needs
    this second metric or it ships the same paragraph twice at two
    lengths (Broder's original resemblance/containment pair).

    Candidate generation is RARE-SHINGLE inverted-index blocking, not a
    doc-window: explode distinct shingles, keep shingles whose document
    frequency is in [{df_min}, {df_max}], self-join the tiny postings
    within each rare shingle (fan-out ≤ df_max²/2 per shingle — the
    hot-key blowup of common shingles is filtered BEFORE the join, the
    standard inverted-index trick), then distinct the pairs.

    The exact intersection is computed WITHOUT shipping shingle arrays
    (r9 finding: joining both full arrays back per pair moves
    candidates × |array| bytes through the shuffle): each pair explodes
    only its SMALLER side's (doc, shingle) rows, equi-joins them against
    the exploded index on (large-doc, shingle) — a high-cardinality
    composite key, no hot keys — and the join OUTPUT is exactly the
    |∩| matching rows, counted per pair. Bytes shuffled scale with
    Σ min(|S(a)|,|S(b)|) into the probe and |∩| out of it, not with
    candidates × full-array size. Per-doc shingle counts come from a
    per-doc hash agg joined back by key. No all-pairs anywhere; every
    stage is an equi-join or hash agg, so the shape survives 100 TB
    (postings of rare shingles grow linearly with the corpus while the
    df cap keeps per-key work constant).

    Integer-exact output: containment in permille via BIGINT div;
    subset_dup flags max-side containment ≥ {flag}‰.
    """
    # The exploded (doc, shingle) index feeds FIVE consumers (doc sizes,
    # df filter, postings, probe, matches); the SHARED memoized build
    # ([[shingle3_index]], also under doc_novelty) checkpoints it so the
    # sha256 shingling runs once per pass, not once per consumer — at
    # scale this is the materialized inverted index every containment
    # system builds first.
    ex = shingle3_index(spark, sf_dir)
    cand = rare_key_candidates(ex, _CONT_DF_MIN, _CONT_DF_MAX)
    joined = exact_pair_overlap(ex, cand)
    return joined.select(
        "doc_a",
        "doc_b",
        "n_sh_a",
        "n_sh_b",
        "overlap",
        F.expr("(1000 * overlap) div n_sh_a").alias("contain_a_permille"),
        F.expr("(1000 * overlap) div n_sh_b").alias("contain_b_permille"),
        F.expr(
            f"greatest((1000 * overlap) div n_sh_a,"
            f" (1000 * overlap) div n_sh_b) >= {_CONT_FLAG_PERMILLE}"
        ).alias("subset_dup"),
    )


shingle_containment_pairs.__doc__ = shingle_containment_pairs.__doc__.format(
    df_min=_CONT_DF_MIN, df_max=_CONT_DF_MAX, flag=_CONT_FLAG_PERMILLE
)


_CONTAINMENT_SQL = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(toks) - {_CONT_K - 1} + 1),
                   i -> sha256(array_to_string(
                       list_slice(toks, i, i + {_CONT_K - 1}), ' '))
               )) AS sh
        FROM t WHERE len(toks) >= {_CONT_K}
    ),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
    rare AS (
        SELECT g FROM ex GROUP BY g
        HAVING count(*) BETWEEN {_CONT_DF_MIN} AND {_CONT_DF_MAX}
    ),
    p AS (SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    m AS (
        SELECT doc_a, doc_b,
               CAST(len(sa.sh) AS BIGINT) AS n_sh_a,
               CAST(len(sb.sh) AS BIGINT) AS n_sh_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS overlap
        FROM cand
        JOIN s sa ON sa.doc_id = cand.doc_a
        JOIN s sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, n_sh_a, n_sh_b, overlap,
           (1000 * overlap) // n_sh_a AS contain_a_permille,
           (1000 * overlap) // n_sh_b AS contain_b_permille,
           greatest((1000 * overlap) // n_sh_a,
                    (1000 * overlap) // n_sh_b)
               >= {_CONT_FLAG_PERMILLE} AS subset_dup
    FROM m
"""


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring (probabilistic match weights)
# ---------------------------------------------------------------------------

#: (field, m-probability) — m is the P(agree | same entity) prior, an
#: EXACT DYADIC double so the literal parses bit-identically on both
#: engines. u = P(agree | different entities) is NOT a prior: it is
#: estimated from the data as the chance-agreement rate Σ n_v²/N².
#:
#: INJECTIVITY CONSTRAINT: the frequency pass stacks all fields into
#: one (field, CAST(value AS STRING)) table, so every field added here
#: must cast to STRING injectively (distinct values → distinct
#: strings). True for the current string/int fields; a FLOAT field
#: would NOT qualify (e.g. -0.0 vs 0.0, engine-dependent rendering)
#: and would silently merge value counts, skewing the u-probabilities
#: and every Fellegi-Sunter weight. Quantize floats to integer units
#: (cents, micronats) before adding them.
_RL_FIELDS = (("brand", 0.9375), ("type", 0.9375), ("size", 0.875), ("price_band", 0.75))
_RL_LO_K, _RL_HI_K = -40, 40
_RL_LINK_MICRO = 6_000_000  # ≥ 6 nats of evidence → link
_RL_REVIEW_MICRO = 3_000_000  # ≥ 3 nats → clerical-review band


def _rl_ln_micro(df: DataFrame, p: str, out: str) -> DataFrame:
    """Attach ``out`` = floor(ln(p)·1e6) BIGINT micronats via the
    portable series ln (identical staged text on both engines —
    same idiom as textops._zipf_ln_cols)."""
    from ..functions import LN_Z_SQL, ln_from_kz_sql, ln_k_sql, ln_m_sql

    return (
        df.withColumn("__ln_k", F.expr(ln_k_sql(p, _RL_LO_K, _RL_HI_K)))
        .withColumn("__ln_m", F.expr(ln_m_sql(p, "__ln_k", _RL_LO_K, _RL_HI_K)))
        .withColumn("__ln_z", F.expr(LN_Z_SQL))
        .withColumn(
            out,
            F.expr(
                f"CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6)"
                " AS BIGINT)"
            ),
        )
        .drop("__ln_k", "__ln_m", "__ln_z")
    )


_RL_PA_SQL = (
    "(m * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sum_sq AS DOUBLE))"
)
_RL_PD_SQL = (
    "((1.0e0 - m) / (1.0e0 - CAST(sum_sq AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
)


def _rl_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
        F.expr("floor(p_retailprice * 100) div 1000").alias("price_band"),
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
    )


def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over blocked part
    pairs: each compared field contributes log-odds evidence —
    ln(m/u) when the pair AGREES on the field, ln((1−m)/(1−u)) when it
    disagrees — and the pair's total score classifies it link /
    possible (clerical review), the 1969 framework every production
    matcher (Splink, dedupe.io) still implements. Complements
    [[fuzzy_name_pairs]] (edit-distance survivors) with calibrated
    multi-field evidence: two parts agreeing on brand+size+price-band
    outscore a pair that merely shares a rare token.

    u-probabilities are ESTIMATED FROM THE DATA (chance agreement =
    Σ n_v²/N², the standard frequency-based u; the per-value count
    squares accumulate in DECIMAL(38,0) — a BIGINT cnt² overflows once
    a value covers ~3e9 rows, plausible for low-cardinality fields at
    scale), so the weights table is a 4-row aggregate computed in the
    same job — at 100 TB it is the same two-column scans as
    [[functional_dependency_audit]], and the weights broadcast as one
    wide row.

    Candidate pairs come from TWO-PASS COMPOUND BLOCKING — equi-joins
    on (head-noun block, size) and (head-noun block, brand), unioned
    and deduped (the multi-pass blocking every production FS matcher
    runs): the head noun alone has ~92 distinct values, so a
    single-key block grows candidates as n²/92 — effectively quadratic
    (r9 advice item 3). The compound keys multiply the block count by
    each second field's cardinality, and BOTH passes shuffle on their
    full compound key, never on the hot single key. The documented
    recall trade: a pair must agree on size OR brand (in addition to
    the block) to be scored at all.

    Integer-exact end to end: each weight quantizes to BIGINT micronats
    ONCE via the portable series ln (floor before any sum — order-free
    exact), pair scores are 4-term integer adds, and the thresholds are
    integer micronat constants. Output: review-band-and-above pairs
    with per-field agreement flags."""
    # localCheckpoint: the parts projection feeds the freq pass, both
    # blocking-join sides, and both attribute join-backs — ~6 jobs
    # otherwise re-running the scan+split lineage each time.
    parts = _rl_parts(spark, sf_dir).localCheckpoint()
    # ONE stacked pass for all field frequencies (field, value) — the
    # per-field loop ran |fields| separate scan+agg jobs. String-cast
    # is injective for every compared field, so the per-value counts
    # (and therefore sum_sq, n, and the weights) are unchanged.
    stack_pairs = ", ".join(
        f"'{field}', CAST({field} AS STRING)" for field, _ in _RL_FIELDS
    )
    m_map = F.create_map(
        *[x for field, m in _RL_FIELDS for x in (F.lit(field), F.lit(m))]
    )
    freq = (
        parts.select(
            F.expr(f"stack({len(_RL_FIELDS)}, {stack_pairs}) AS (field, value)")
        )
        .groupBy("field", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("field")
        .agg(
            F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias(
                "sum_sq"
            ),
            F.sum("cnt").alias("n"),
        )
        .withColumn("m", m_map[F.col("field")])
    )
    w = _rl_ln_micro(freq, _RL_PA_SQL, "wa_micro")
    w = _rl_ln_micro(w, _RL_PD_SQL, "wd_micro")
    wide = w.agg(
        *[
            c
            for field, _ in _RL_FIELDS
            for c in (
                F.max(F.when(F.col("field") == field, F.col("wa_micro"))).alias(
                    f"wa_{field}"
                ),
                F.max(F.when(F.col("field") == field, F.col("wd_micro"))).alias(
                    f"wd_{field}"
                ),
            )
        ]
    )
    a = parts.alias("a")
    b = parts.alias("b")

    def _block_pass(second_key: str) -> DataFrame:
        # Full compound equi-key (block, second_key) — Catalyst keys
        # the shuffle on both columns, so no single hot block value
        # concentrates the join.
        return a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{second_key}") == F.col(f"b.{second_key}"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        ).select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
        )

    cand = _block_pass("size").unionByName(_block_pass("brand")).distinct()
    pairs = (
        cand.join(
            parts.select(
                F.col("p_partkey").alias("part_a"),
                *[F.col(f).alias(f"a_{f}") for f, _ in _RL_FIELDS],
            ),
            "part_a",
        )
        .join(
            parts.select(
                F.col("p_partkey").alias("part_b"),
                *[F.col(f).alias(f"b_{f}") for f, _ in _RL_FIELDS],
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(wide))
    )
    agree = {
        field: (F.col(f"a_{field}") == F.col(f"b_{field}")).cast("bigint")
        for field, _ in _RL_FIELDS
    }
    score = None
    for field, _ in _RL_FIELDS:
        term = F.when(
            agree[field] == 1, F.col(f"wa_{field}")
        ).otherwise(F.col(f"wd_{field}"))
        score = term if score is None else score + term
    return (
        pairs.select(
            "part_a",
            "part_b",
            *[agree[field].alias(f"agree_{field}") for field, _ in _RL_FIELDS],
            score.alias("score_micronats"),
        )
        .where(F.col("score_micronats") >= _RL_REVIEW_MICRO)
        .withColumn(
            "decision",
            F.when(F.col("score_micronats") >= _RL_LINK_MICRO, "link").otherwise(
                "possible"
            ),
        )
    )


def _rl_sql() -> str:
    from ..functions import LN_Z_SQL, _dlit, ln_from_kz_sql, ln_k_sql, ln_m_sql

    freq_legs = []
    for field, m in _RL_FIELDS:
        freq_legs.append(
            f"""
        SELECT '{field}' AS field, {_dlit(m)} AS m,
               sum(CAST(cnt AS HUGEINT) * cnt) AS sum_sq,
               CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT count(*) AS cnt FROM p GROUP BY {field})"""
        )
    freq = "\n        UNION ALL".join(freq_legs)
    wa_stage = rf"""
    a1 AS (SELECT *, {ln_k_sql(_RL_PA_SQL, _RL_LO_K, _RL_HI_K)} AS __ln_k FROM freq),
    a2 AS (SELECT *, {ln_m_sql(_RL_PA_SQL, "__ln_k", _RL_LO_K, _RL_HI_K)} AS __ln_m FROM a1),
    a3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM a2),
    a4 AS (SELECT field, m, sum_sq, n,
                  CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6) AS BIGINT) AS wa_micro
           FROM a3),
    d1 AS (SELECT *, {ln_k_sql(_RL_PD_SQL, _RL_LO_K, _RL_HI_K)} AS __ln_k FROM a4),
    d2 AS (SELECT *, {ln_m_sql(_RL_PD_SQL, "__ln_k", _RL_LO_K, _RL_HI_K)} AS __ln_m FROM d1),
    d3 AS (SELECT *, {LN_Z_SQL} AS __ln_z FROM d2),
    weights AS (SELECT field, wa_micro,
                       CAST(floor({ln_from_kz_sql('__ln_k', '__ln_z')} * 1.0e6) AS BIGINT) AS wd_micro
                FROM d3)"""
    wide_cols = ",\n               ".join(
        f"max(CASE WHEN field = '{field}' THEN wa_micro END) AS wa_{field},"
        f" max(CASE WHEN field = '{field}' THEN wd_micro END) AS wd_{field}"
        for field, _ in _RL_FIELDS
    )
    agree_cols = ",\n           ".join(
        f"CAST(a.{field} = b.{field} AS BIGINT) AS agree_{field}"
        for field, _ in _RL_FIELDS
    )
    score = " + ".join(
        f"(CASE WHEN a.{field} = b.{field} THEN w.wa_{field} ELSE w.wd_{field} END)"
        for field, _ in _RL_FIELDS
    )
    return rf"""
    WITH p AS (
        SELECT p_partkey,
               p_brand AS brand, p_type AS type, p_size AS size,
               CAST(floor(p_retailprice * 100) AS BIGINT) // 1000 AS price_band,
               string_split(p_name, ' ')[-1] AS block
        FROM part
    ),
    freq AS ({freq}
    ),{wa_stage},
    w AS (SELECT {wide_cols} FROM weights),
    cand AS (
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
        FROM p a JOIN p b ON a.block = b.block AND a.size = b.size
                         AND a.p_partkey < b.p_partkey
        UNION
        SELECT a.p_partkey, b.p_partkey
        FROM p a JOIN p b ON a.block = b.block AND a.brand = b.brand
                         AND a.p_partkey < b.p_partkey
    ),
    scored AS (
        SELECT cand.part_a, cand.part_b,
           {agree_cols},
           {score} AS score_micronats
        FROM cand
        JOIN p a ON a.p_partkey = cand.part_a
        JOIN p b ON b.p_partkey = cand.part_b
        CROSS JOIN w
    )
    SELECT *,
           CASE WHEN score_micronats >= {_RL_LINK_MICRO} THEN 'link'
                ELSE 'possible' END AS decision
    FROM scored
    WHERE score_micronats >= {_RL_REVIEW_MICRO}
"""


# Registry order: the near-dup trio first — round 3's driver sweep
# truncated exactly before them, so they carry the least driver
# evidence; exact_dedup/dedup_keep_first are green in r02+r03.
QUERIES = {
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "simhash": simhash,
    "simhash_hamming_pairs": simhash_hamming_pairs,
    "minhash_lsh_candidates": minhash_lsh_candidates,
    "minhash_band_sweep": minhash_band_sweep,
    "minhash_index_two_batch": minhash_index_two_batch,
    "minhash_source_similarity": minhash_source_similarity,
    "minhash_recall_check": minhash_recall_check,
    "minhash_jaccard_estimate_check": minhash_jaccard_estimate_check,
    "exact_dedup": exact_dedup,
    "dedup_keep_first": dedup_keep_first,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "golden_part_records": golden_part_records,
    "shingle_containment_pairs": shingle_containment_pairs,
    "record_linkage_scores": record_linkage_scores,
}

ORACLES = {
    "exact_dedup": _EXACT_SQL,
    "dedup_keep_first": _KEEP_FIRST_SQL,
    "ngram_jaccard_pairs": _JACCARD_SQL,
    "simhash": _SIMHASH_SQL,
    # Oracle-side banding replays the pigeonhole-exact recall argument
    # independently — a Spark-side recall hole would hash-fail here.
    "simhash_hamming_pairs": _SIMHASH_PAIRS_SQL,
    # Value-oracled since round 9 (sha256-slice hashes replace xxhash64,
    # which DuckDB could not replay — r8 verdict item 2).
    "minhash_lsh_candidates": _MINHASH_LSH_SQL,
    "minhash_band_sweep": _BAND_SWEEP_SQL,
    "minhash_index_two_batch": _MINHASH_LSH_SQL,
    "minhash_source_similarity": _MINHASH_SOURCE_SQL,
    "minhash_recall_check": _MINHASH_RECALL_SQL,
    "minhash_jaccard_estimate_check": _MH_ESTIMATE_SQL,
    "fuzzy_name_pairs": _FUZZY_SQL,
    "golden_part_records": _GOLDEN_SQL,
    "shingle_containment_pairs": _CONTAINMENT_SQL,
    "record_linkage_scores": _rl_sql(),
}
