"""Multimodal-column operators: treat media as opaque ``binary`` with
typed metadata, process via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the DECODE step is a
clearly-marked deterministic stub (sha256-derived pseudo-dimensions) —
the Spark-side plumbing that matters at 100 TB is real and tested:

- binary payload column + metadata projection (pure JVM, oracle-able)
- ``mapInPandas`` with an explicit output schema, iterating Arrow
  batches (the shape a real decoder plugs into: swap ``_stub_decode``
  for PIL/ffmpeg and nothing else changes)
- batch-size control via ``spark.sql.execution.arrow.maxRecordsPerBatch``
  rather than per-row Python calls

The testdata has no real media, so payloads are the documents' UTF-8
bytes — byte-identical in Spark and DuckDB, which lets the metadata
path hash-match an SQL oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..operators.rounds import cut


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, media_type) — the canonical
    multimodal table shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        # Deterministic fake modality tag for partition/bucket routing.
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


# ---------------------------------------------------------------------------
# metadata path: pure JVM, oracle-able
# ---------------------------------------------------------------------------


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque payloads: byte length, content digest,
    modality. The whole projection is JVM-side — at 100 TB this is the
    cheap cataloguing pass that routes payloads to modality-specific
    decoders."""
    return _payloads(spark, sf_dir).select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
    )


_METADATA_SQL = """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS digest
    FROM documents
"""


# ---------------------------------------------------------------------------
# decode path: mapInPandas plumbing with a stubbed decoder
# ---------------------------------------------------------------------------

_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("batch_rows", IntegerType()),
    ]
)


def _stub_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """STUB — deterministic fake decode. A real deployment replaces this
    with PIL/av decode of ``payload``; everything around it (schema,
    batching, partitioning) is production-shaped. Dimensions are derived
    from the payload digest so results are stable across runs."""
    import hashlib

    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_frames = 1 if media_type == "image" else 1 + h[2] % 30
    return width, height, n_frames


def _pil_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Real image decode behind the same seam as ``_stub_decode`` —
    proves the decoder is swappable without touching the oracled
    queries. Import stays inside the call (executed on executors): the
    sandbox has no PIL, so the symbol must resolve lazily; the gated
    pytest auto-skips when the import fails. Non-image payloads fall
    back to the stub (PIL is an image codec, not av)."""
    if media_type != "image":
        return _stub_decode(payload, media_type)
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as img:
        return img.width, img.height, getattr(img, "n_frames", 1)


def decode_features(payloads: DataFrame, decoder=_stub_decode) -> DataFrame:
    """Arrow-batched decode over a (doc_id, media_type, payload) frame:
    ``mapInPandas`` receives pandas batches, runs ``decoder`` per
    payload, emits a typed feature row. ``batch_rows`` exposes the
    Arrow batch size so tests can assert the data really moves in
    batches, not row-at-a-time. ``decoder`` is the production seam —
    ``_stub_decode`` (oracle default) and ``_pil_decode`` (real image
    codec, gated pytest) plug in without changing the plan shape."""

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            dims = [
                decoder(bytes(p), m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                    "batch_rows": len(pdf),
                }
            )

    return payloads.mapInPandas(decode, _FEATURE_SCHEMA)


def media_decode_features_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stub-decoder instantiation of ``decode_features`` over the
    canonical payloads table."""
    return decode_features(_payloads(spark, sf_dir))


def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered decode query: the debug form minus the runtime
    ``batch_rows`` column, so the output is a pure function of the data
    and the DuckDB oracle can replay the stub's digest arithmetic
    (hex-nibble parse of sha256) for a full value hash-check."""
    return media_decode_features_debug(spark, sf_dir).drop("batch_rows")


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("resized_w", IntegerType()),
        StructField("resized_h", IntegerType()),
        StructField("frame_digest", StringType()),
    ]
)

_MAX_SAMPLED_FRAMES = 4
_RESIZE_TARGET = 224


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + resize plumbing: one input payload fans out to
    up to ``_MAX_SAMPLED_FRAMES`` rows (uniform-stride frame selection),
    each tagged with the aspect-preserving resize-to-224 target and a
    deterministic per-frame digest. The explode-shaped ``mapInPandas``
    — N output rows per input row, decided inside the batch — is the
    shape real video pipelines need and ``posexplode`` can't express
    (the frame list only exists after decode).

    STUB decode (same policy as ``media_decode_features``): frame count
    and dimensions derive from the payload digest; a real deployment
    swaps ``_stub_decode``/the digest for av/PIL calls. Scale shape:
    narrow map, no shuffle, output ≤4× input rows, Arrow-batched.
    """

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import hashlib

        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in _FRAME_SCHEMA.fields}
            for doc_id, payload, mtype in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                w, h, n_frames = _stub_decode(bytes(payload), mtype)
                # Uniform stride: pick ceil-spaced frame indices.
                k = min(n_frames, _MAX_SAMPLED_FRAMES)
                idxs = [i * n_frames // k for i in range(k)]
                # Aspect-preserving resize: short side → 224, integer
                # round-half-up ((x*2T + m) // 2m == floor(x*T/m + 0.5)) so
                # the value is engine-exact (float round() is banker's in
                # Python but half-away in SQL engines — unreconcilable).
                m = min(w, h)
                rw = (w * 2 * _RESIZE_TARGET + m) // (2 * m)
                rh = (h * 2 * _RESIZE_TARGET + m) // (2 * m)
                for fi in idxs:
                    out["doc_id"].append(doc_id)
                    out["media_type"].append(mtype)
                    out["frame_idx"].append(fi)
                    out["resized_w"].append(rw)
                    out["resized_h"].append(rh)
                    out["frame_digest"].append(
                        hashlib.sha256(bytes(payload) + fi.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return _payloads(spark, sf_dir).mapInPandas(sample, _FRAME_SCHEMA)


# The stub decoder derives dimensions from sha256 digest bytes, which
# DuckDB can replay (hex-nibble parse of the digest string) — so the
# decode path gets a FULL value oracle despite running through Python
# mapInPandas. batch_rows (runtime Arrow batch size) is excluded from
# the registered query and asserted in pytest instead.
def _hexbyte_sql(pos: int) -> str:
    """SQL for digest byte at 0-based position `pos` of sha256(text)."""
    hi = f"strpos('0123456789abcdef', substr(sha256(text), {2 * pos + 1}, 1)) - 1"
    lo = f"strpos('0123456789abcdef', substr(sha256(text), {2 * pos + 2}, 1)) - 1"
    return f"(({hi}) * 16 + ({lo}))"


_DECODE_SQL = f"""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(64 + {_hexbyte_sql(0)} % 192 AS INTEGER) AS width,
           CAST(64 + {_hexbyte_sql(1)} % 192 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                     ELSE 1 + {_hexbyte_sql(2)} % 30 END AS INTEGER) AS n_frames
    FROM documents
"""


# Full value oracle for the frame fan-out: the stub's digest arithmetic
# replays in SQL (hex-nibble parse, as in _DECODE_SQL), the variable
# fan-out replays as `range(4)` lateral + `i < k` filter, and the
# per-frame digest replays because frame_idx < 128 makes its 4-byte
# big-endian encoding three NULs + one ASCII byte — expressible with
# chr() so DuckDB's VARCHAR-only sha256 hashes the identical bytes.
_FRAME_SQL = f"""
    WITH dims AS (
        SELECT doc_id, text,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               64 + {_hexbyte_sql(0)} % 192 AS width,
               64 + {_hexbyte_sql(1)} % 192 AS height,
               CASE WHEN doc_id % 3 = 0 THEN 1
                    ELSE 1 + {_hexbyte_sql(2)} % 30 END AS n_frames
        FROM documents
    ),
    sized AS (
        SELECT *, LEAST(n_frames, {_MAX_SAMPLED_FRAMES}) AS k,
               LEAST(width, height) AS m
        FROM dims
    )
    SELECT doc_id,
           media_type,
           CAST((i * n_frames) // k AS INTEGER) AS frame_idx,
           CAST((width * {2 * _RESIZE_TARGET} + m) // (2 * m) AS INTEGER) AS resized_w,
           CAST((height * {2 * _RESIZE_TARGET} + m) // (2 * m) AS INTEGER) AS resized_h,
           sha256(text || repeat(chr(0), 3)
                       || chr(CAST((i * n_frames) // k AS INTEGER))) AS frame_digest
    FROM sized, range({_MAX_SAMPLED_FRAMES}) t(i)
    WHERE i < k
"""


# ---------------------------------------------------------------------------
# payload dedup: drop byte-identical media BEFORE any decode work
# ---------------------------------------------------------------------------


def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the RAW payload bytes — the pass that runs before
    any decoder touches anything: byte-identical media (re-uploads,
    mirrored scrapes) collapse to one keeper per content digest, so
    decode/feature-extraction cost scales with DISTINCT content, not
    corpus size. Grouping key is the sha256 of the payload computed
    map-side (the 32-byte digest shuffles, never the media bytes —
    same discipline as ``plans.dedup.exact_dedup``, but on binary with
    NO normalization: one flipped byte is a different asset). Keeper is
    the lowest doc_id; ``n_copies``/``total_bytes`` quantify what the
    dedup saved."""
    return (
        _payloads(spark, sf_dir)
        .select(
            "doc_id",
            "media_type",
            F.sha2("payload", 256).alias("digest"),
            F.octet_length("payload").alias("n_bytes"),
        )
        .groupBy("digest", "media_type")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


# DuckDB's sha256 is VARCHAR-only; the payload is encode(text), so
# hashing the text hashes the identical bytes (utf-8 both sides).
_MEDIA_DEDUP_SQL = """
    SELECT sha256(text) AS digest,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY ALL
"""


# ---------------------------------------------------------------------------
# CLIP-style (media, caption) alignment filter — the LAION/DataComp cut
# ---------------------------------------------------------------------------

_ALIGN_DIM = 32  # stand-in joint-embedding dimensionality
#: cos² keep-threshold in ppm, applied as the integer comparison
#: 1e6·dot² ≥ τ²ppm·‖a‖²·‖b‖² (dot > 0). LAION's production cut is
#: CLIP-score 0.28 (Schuhmann et al. 2021/2022); a TRAINED contrastive
#: encoder pushes mismatched pairs near zero, but the deterministic
#: bag-of-words stand-in shares the synthetic corpus's tiny vocabulary,
#: so its mismatch noise floor is high (measured max cos²: 0.839/0.888/
#: 0.907 Mppm at sf0.001/0.01/0.1 vs exactly 1.0 for matched pairs).
#: The knob is corpus-tuned like ``_SEMDEDUP_TAU_Q``: 0.95 Mppm keeps
#: every matched pair and drops every planted mismatch at all SFs.
_ALIGN_TAU2_PPM = 950_000
#: mismatch plant: pairs whose md5 leading hex digit ≡ 0 (mod 4) carry
#: their NEIGHBOR's caption (~1/4 of pairs, the LAION wrong-alt-text
#: failure mode). Hash-planted, NOT doc_id-modulo — the documents
#: table assigns ``source`` by doc_id modulo, and a modulo plant would
#: confound mismatch with source, making the per-source report
#: degenerate.
_ALIGN_MISMATCH_SQL = (
    "(instr('0123456789abcdef',"
    " substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) % 4 = 0"
)


def media_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style MEDIA↔CAPTION alignment filter — the web-pair curation
    stage LAION/DataComp run before multimodal training: embed each
    media item and each caption into a joint space, score every
    (media, caption) pair by cosine, keep pairs above the alignment
    cut (LAION ships CLIP-score 0.28; this stand-in's knob is
    corpus-tuned — see ``_ALIGN_TAU2_PPM``), and report per-source
    alignment stats (the signal that ranks crawl sources by caption
    quality). Composes the multimodal
    payload plumbing ([[media_metadata]]'s binary column) with the
    integer-dot serving idiom of [[ann_topk_int8]].

    The joint encoder is a deterministic STAND-IN (no trained towers in
    this container): both towers feature-hash whitespace tokens into
    ``_ALIGN_DIM`` signed-count dims (sha256-salted bucket + sign — the
    [[hashed_feature_crosses]]/[[dsir_importance_weights]] hashing
    trick), the media tower reading the DECODED payload bytes, the text
    tower the caption string. A matched pair embeds identically
    (cos = 1); the planted mismatches (hash-selected ~1/4 of pairs
    carry their neighbor's caption, the LAION wrong-alt-text failure
    mode — see ``_ALIGN_MISMATCH_SQL``) score strictly below the cut
    and are dropped. Swap the
    towers for real CLIP image/text encoders and nothing downstream
    changes — the pair scoring, the threshold algebra, and the source
    rollup are the production shapes.

    Integer-exact end to end: signed counts are integers, each item is
    embedded ONCE and joined twice (images embedded once, captions
    once — the production split), the pair dot is a (doc, dim)-keyed
    sparse-vector join + one sum, and the cosine gate is the cross-
    multiplied comparison 1e6·dot² ≥ τ²·‖a‖²·‖b‖² (dot > 0) — no
    sqrt, no float, so DuckDB replays the whole filter bit-exactly.

    Scale shape: one token-key shuffle builds the embeddings (map-side
    combined, output bounded at corpus×_ALIGN_DIM sparse entries), the
    scoring join keys on (cap_id, dim) — candidates are the pair list,
    never a cross product — and the report is one source-keyed
    aggregate. Media bytes never shuffle (the [[media_dedup]]
    discipline: only doc_ids, dims, and counts move)."""
    media = _payloads(spark, sf_dir)
    feats = cut(
        _align_sign_rows(media)
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        # read three times (media leg, caption leg, norms) — compute once
    )
    docs = load_table(spark, sf_dir, "documents")
    return _align_report(_align_score(_align_pairs(docs), feats))


def _align_sign_rows(media: DataFrame) -> DataFrame:
    """(doc_id, dim, sign) hashed-token rows — the PRE-aggregation grain
    of the joint embedding. ``sum(sign)`` per (doc_id, dim) IS the
    embedding value, and signed counts form a commutative monoid, so
    crawl batches fold into a persisted (doc_id, dim, val) mart
    (``merge_aggregate``) without ever re-scanning history — the seam
    [[media_alignment_two_batch]] exercises."""
    from ..functions import hex_to_bigint_sql, plan_barrier

    toks = F.filter(
        F.split(F.trim(F.decode(F.col("payload"), "utf-8")), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    # sha2 staged behind a plan_barrier'd column: inlined into the
    # 15-digit hex decode + parity it would run 16x per token row
    # (codegen does not CSE textual copies — the r13 bootstrap lesson).
    tok_rows = media.select(
        "doc_id", F.explode(toks).alias("tok")
    ).withColumn("hx", F.expr("substr(sha2(concat('clip:', tok), 256), 1, 16)"))
    return plan_barrier(tok_rows).select(
        "doc_id",
        F.expr(
            hex_to_bigint_sql("substr(hx, 1, 15)") + f" % {_ALIGN_DIM}"
        ).alias("dim"),
        F.expr(
            "CASE WHEN (instr('0123456789abcdef', substr(hx, 16, 1)) - 1)"
            " % 2 = 0 THEN 1 ELSE -1 END"
        ).alias("sign"),
    )


def _align_pairs(docs: DataFrame) -> DataFrame:
    """(pair_id, source, cap_id) — each doc paired with its caption
    (its own text, or the hash-planted neighbor's for the ~1/4
    mismatch plant)."""
    return docs.select(
        F.col("doc_id").alias("pair_id"),
        "source",
        F.expr(
            f"CASE WHEN {_ALIGN_MISMATCH_SQL} THEN doc_id + 1"
            " ELSE doc_id END"
        ).alias("cap_id"),
    )


def _align_score(pairs: DataFrame, feats: DataFrame) -> DataFrame:
    """Per-pair alignment score (pair_id, source, align_ppm) against a
    (doc_id, dim, val) embedding table. INNER norm joins on both sides:
    a pair whose caption doc is absent is not scoreable (the one-shot
    query drops it; the incremental fold keeps it PENDING until the
    caption's batch arrives)."""
    norms = feats.groupBy("doc_id").agg(
        F.sum(F.col("val") * F.col("val")).cast("bigint").alias("n2")
    )
    m = feats.select(F.col("doc_id").alias("pair_id"), "dim", F.col("val").alias("v_img"))
    t = feats.select(F.col("doc_id").alias("cap_id"), "dim", F.col("val").alias("v_txt"))
    dots = (
        pairs.join(m, "pair_id")
        .join(t, ["cap_id", "dim"])
        .groupBy("pair_id")
        .agg(F.sum(F.col("v_img") * F.col("v_txt")).cast("bigint").alias("dot"))
    )
    return (
        pairs.join(norms.select(F.col("doc_id").alias("pair_id"), F.col("n2").alias("n2_img")), "pair_id")
        .join(norms.select(F.col("doc_id").alias("cap_id"), F.col("n2").alias("n2_txt")), "cap_id")
        .join(dots, "pair_id", "left")
        .select(
            "pair_id",
            "source",
            # The cross-multiplied gate runs in DECIMAL(38,0) (DuckDB:
            # HUGEINT) — in BIGINT, 1e6·dot² wraps silently in Spark at
            # dot ≈ 3.04e6 (a token-repetitive doc where every token
            # hashes to one dim reaches that at T ≈ 1744 tokens) while
            # DuckDB raises, so the engines diverged exactly at
            # overflow (r14 advice #3). DECIMAL(38,0) holds 1e6·dot²
            # up to dot ≈ 3.1e15 (T ≈ 56M tokens/doc) — beyond any
            # document this pipeline ingests; both sides truncate
            # toward zero on these nonnegative operands, verified
            # value-identical across engines incl. the former
            # overflow range.
            F.expr(
                "CASE WHEN coalesce(dot, 0) > 0 THEN"
                " CAST(CAST(1000000 AS DECIMAL(38,0)) * dot * dot"
                " DIV greatest(CAST(n2_img AS DECIMAL(38,0)) * n2_txt,"
                "              CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
                " ELSE 0 END"
            ).alias("align_ppm"),
        )
    )


def _align_report(per: DataFrame) -> DataFrame:
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("align_ppm") >= _ALIGN_TAU2_PPM, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
            F.expr(
                f"CAST(1000 * sum(CASE WHEN align_ppm >= {_ALIGN_TAU2_PPM}"
                " THEN 1 ELSE 0 END) DIV count(*) AS BIGINT)"
            ).alias("kept_permille"),
            F.expr("CAST(sum(align_ppm) DIV count(*) AS BIGINT)").alias(
                "mean_align_ppm"
            ),
        )
        .orderBy("source")
    )


def media_alignment_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained [[media_text_alignment]] — the shape a
    crawl-ingest pipeline runs: media/caption batches arrive over time,
    each batch's hashed-token sign rows FOLD into the persisted
    (doc_id, dim, val) embedding mart
    (``operators.maintenance.merge_aggregate`` — signed counts are a
    commutative monoid), and only the FRONTIER of pairs is scored:
    the batch's own pairs plus the pairs still PENDING because their
    caption doc had not arrived (the cross-batch wrong-alt-text case —
    a mismatched pair whose neighbor caption lands in a later crawl).
    Every pair is scored exactly once, when both sides exist; scored
    history is never re-scored, document history never re-scanned.

    Convergence contract ([[doremi_two_batch]] /
    [[bradley_terry_two_batch]] pattern): the oracle is the one-shot
    ``_ALIGN_SQL`` over the full corpus, so fold(b1) ⊕ fold(b2) must
    reproduce the one-shot per-source report bit-for-bit or the driver
    hash fails.

    Scale shape: per batch, ONE token-key shuffle over the batch only;
    the mart is the sparse (docs × ≤``_ALIGN_DIM``) grain however long
    crawl history grows; the scoring joins touch only frontier pairs;
    media bytes never shuffle."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="alignct_")
    try:
        scored = None
        pending = None
        for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
            state = merge_aggregate(
                spark,
                f"{tmp}/feats",
                _align_sign_rows(_payloads(spark, sf_dir).where(pred))
                .withColumnRenamed("sign", "val"),
                keys=["doc_id", "dim"],
                sums=["val"],
                count_col="c",
            )
            # No cut here: merge_aggregate already returns a
            # read of the MATERIALIZED parquet mart, so a checkpoint
            # would be a second copy of the same bytes in the block
            # manager (growing with the mart at scale). A/B at sf0.1:
            # neutral (3.99 vs 4.00 s isolated min) — the drop is for
            # the scale shape, not a local win.
            feats = state.select(
                "doc_id", "dim", F.col("val").cast("bigint").alias("val")
            )
            batch_pairs = _align_pairs(docs.where(pred))
            candidates = cut(
                batch_pairs
                if pending is None
                else batch_pairs.unionByName(pending)
            )
            # Restrict the mart to the scoring frontier BEFORE the norm
            # aggregate: _align_score groups feats by doc_id for norms,
            # and without this semi-join every batch would re-aggregate
            # the ENTIRE folded mart (growing with crawl history) to
            # score a bounded frontier — the one history re-scan the
            # fold exists to avoid. Frontier ids = candidate pair ids ∪
            # caption ids, bounded by |batch| + |pending|.
            frontier_ids = (
                candidates.select(F.col("pair_id").alias("doc_id"))
                .unionByName(candidates.select(F.col("cap_id").alias("doc_id")))
                .distinct()
            )
            frontier_feats = feats.join(frontier_ids, "doc_id", "left_semi")
            per = cut(_align_score(candidates, frontier_feats))
            scored = per if scored is None else scored.unionByName(per)
            # not-yet-scoreable pairs wait for their caption's batch
            pending = cut(
                candidates.join(per.select("pair_id"), "pair_id", "left_anti")
            )
        return _align_report(scored)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _align_sql() -> str:
    from ..functions import hex_to_bigint_sql

    bucket = hex_to_bigint_sql("substr(hx, 1, 15)") + f" % {_ALIGN_DIM}"
    sign = (
        "CASE WHEN (instr('0123456789abcdef', substr(hx, 16, 1)) - 1) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )
    return rf"""
    WITH tok_rows AS (
        SELECT doc_id,
               substr(sha256('clip:' || tok), 1, 16) AS hx
        FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(text), '\s+'),
                       x -> length(x) > 0)) AS tok
            FROM documents
        )
    ),
    vecs AS (
        SELECT doc_id, {bucket} AS dim, CAST(sum({sign}) AS BIGINT) AS val
        FROM tok_rows GROUP BY 1, 2
    ),
    norms AS (
        SELECT doc_id, CAST(sum(val * val) AS BIGINT) AS n2
        FROM vecs GROUP BY doc_id
    ),
    pairs AS (
        SELECT doc_id AS pair_id, source,
               CASE WHEN {_ALIGN_MISMATCH_SQL.replace("AS STRING", "AS VARCHAR")}
                    THEN doc_id + 1 ELSE doc_id END AS cap_id
        FROM documents
    ),
    dots AS (
        SELECT p.pair_id, CAST(sum(mi.val * tc.val) AS BIGINT) AS dot
        FROM pairs p
        JOIN vecs mi ON mi.doc_id = p.pair_id
        JOIN vecs tc ON tc.doc_id = p.cap_id AND tc.dim = mi.dim
        GROUP BY p.pair_id
    ),
    per AS (
        SELECT p.source,
               CASE WHEN coalesce(d.dot, 0) > 0 THEN
                    CAST((CAST(1000000 AS HUGEINT) * d.dot * d.dot)
                         // greatest(CAST(ni.n2 AS HUGEINT) * nc.n2, 1)
                         AS BIGINT)
                    ELSE 0 END AS align_ppm
        FROM pairs p
        JOIN norms ni ON ni.doc_id = p.pair_id
        JOIN norms nc ON nc.doc_id = p.cap_id
        LEFT JOIN dots d ON d.pair_id = p.pair_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN align_ppm >= {_ALIGN_TAU2_PPM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(1000 * sum(CASE WHEN align_ppm >= {_ALIGN_TAU2_PPM}
                           THEN 1 ELSE 0 END) // count(*) AS BIGINT)
               AS kept_permille,
           CAST(sum(align_ppm) // count(*) AS BIGINT) AS mean_align_ppm
    FROM per
    GROUP BY source
    ORDER BY source
"""


_ALIGN_SQL = _align_sql()


QUERIES = {
    "media_metadata": media_metadata,
    "media_decode_features": media_decode_features,
    "media_frame_sample": media_frame_sample,
    "media_dedup": media_dedup,
    "media_text_alignment": media_text_alignment,
    "media_alignment_two_batch": media_alignment_two_batch,
}

ORACLES = {
    "media_metadata": _METADATA_SQL,
    "media_decode_features": _DECODE_SQL,
    "media_frame_sample": _FRAME_SQL,
    "media_dedup": _MEDIA_DEDUP_SQL,
    "media_text_alignment": _ALIGN_SQL,
    # the fold must reproduce the ONE-SHOT report bit-for-bit
    "media_alignment_two_batch": _ALIGN_SQL,
}
