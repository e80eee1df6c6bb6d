"""Reusable column expressions.

Everything here is built-in ``pyspark.sql.functions`` composition — JVM
side, whole-stage-codegen friendly. No Python UDFs (the reference is
likewise UDF-free: SURVEY.md §2.8).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def local_df(spark: SparkSession, rows: Sequence[tuple], ddl_schema) -> DataFrame:
    """Small local-rows DataFrame via the ARROW path — a drop-in for
    ``spark.createDataFrame(rows, ddl_schema)`` on control-plane data
    (run logs, watermark commits, centroid matrices, 1-row gates).

    Why: ``createDataFrame(list-of-tuples)`` builds a pickled Python
    RDD, so EVERY downstream job pays a Python-worker
    deserialization pass — measured 5-7 s per tiny write/action in
    this environment vs 0.3 s through Arrow (r10's "fixed per-query
    session overhead" was largely this). Routing through a
    ``pyarrow.Table`` yields a JVM-side LocalRelation: no Python in
    any later job, plans can constant-fold/broadcast it, and the
    result is byte-identical (timestamps, nested arrays, and NULLs
    round-trip exactly — pinned by tests/test_functions.py).

    Rows are positional tuples matching the DDL field order, exactly
    like the classic API. ``ddl_schema`` is a DDL string or a
    ``StructType``. Empty ``rows`` is fine (schema-only frame).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = (
        ddl_schema
        if isinstance(ddl_schema, StructType)
        else _parse_datatype_string(ddl_schema)
    )
    arrow_schema = to_arrow_schema(st)
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(st.fields)}
    table = pa.Table.from_pydict(cols, schema=arrow_schema)
    return spark.createDataFrame(table)


def utcnow_naive() -> dt.datetime:
    """Driver-side naive-UTC now — the default injectable clock for
    audit/effective timestamps (reference F1/F13: ``@utcnow()``,
    adf/pipeline.json:232). ``dt.datetime.utcnow`` is deprecated since
    Python 3.12; this is the supported equivalent with identical output
    (naive, so Spark TimestampType literals don't shift by session TZ).
    """
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def hash_diff(cols: Sequence[str]) -> Column:
    """SHA-256 row-content hash for change detection.

    Faithful to the reference's ``sha2(concat_ws("||", *cols), 256)``
    (/root/reference/databricks_notebooks/2_Bronze_to_Silver.py:72,84)
    including the documented quirk that ``concat_ws`` skips nulls, so
    ``("a", null)`` and ``(null, "a")`` hash-collide (SURVEY.md F4).
    """
    return F.sha2(F.concat_ws("||", *[F.col(c).cast("string") for c in cols]), 256)


def safe_ratio(num: Column, den: Column) -> Column:
    """``num / den`` with the reference's divide-by-zero guard
    (3_Silver_to_Gold.py:90): denominator <= 0 is replaced by 1."""
    return num / F.when(den > 0, den).otherwise(F.lit(1))


def money(col: Column) -> Column:
    """Round a monetary double to 2 decimals — applied to every float
    aggregate so results are stable across summation orders (and hash-
    comparable with the DuckDB oracle)."""
    return F.round(col, 2)


def spread_for_cpu(df):
    """Fan a narrow-but-CPU-heavy input out to all cores when the scan
    produced too few partitions (single-file local parquet). No-op when
    the input is already well-partitioned — at 100 TB the scan arrives
    in thousands of splits and this never triggers; locally it turns a
    1-partition sketch computation into a 32-way one for the price of
    shuffling the (small) input once."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a metadata-only call (no Java RDD conversion, unlike
    # df.rdd.getNumPartitions). A file-backed scan with fewer files than
    # ~half the cores is the single-local-parquet case we're fanning out;
    # non-file-backed frames ([] → repartition) are tiny locally.
    if len(df.inputFiles()) < max(2, target // 2):
        return df.repartition(target)
    return df


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<double>`` columns, element order
    summation (matches DuckDB's list_sum order for oracle parity).

    Built-in higher-order functions only — no UDF: ``zip_with`` for the
    elementwise product, ``aggregate`` for the ordered sum.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    # Zero-norm guard: a zero vector has no direction — return null
    # rather than NaN-poisoning downstream aggregates.
    return F.when((na > 0) & (nb > 0), dot / (na * nb))


def plan_barrier(df):
    """Materialization barrier for expensive projected expressions.

    A bare projection is NOT a materialization point: CollapseProject
    inlines single-use aliases into downstream lambdas (re-running a
    regex tokenize once per shingle position — quadratic in doc
    length), and alias-substituting predicate pushdown rewrites even a
    tautological ``size(col) >= 0`` guard into the full expression and
    evaluates it interpreted at the scan. A NONDETERMINISTIC
    always-true filter is the reliable fence: Catalyst may neither push
    predicates across it, reorder it, nor collapse the projections on
    either side — so the projected columns below it are computed
    exactly once per row. Measured on ``repetition_signals`` at sf0.1:
    3.2 s (tautological deterministic guard, silently pushed+inlined)
    → 0.66 s (this barrier).

    Cost: one ``monotonically_increasing_id() >= 0`` comparison per
    row and an optimization fence — use it AFTER a projection whose
    columns feed per-element HOF lambdas, not as a default.
    """
    from pyspark.sql import functions as F

    return df.where(F.monotonically_increasing_id() >= 0)


_ZORDER_BITS = 16


def zorder_key(a: Column, b: Column, bits: int = _ZORDER_BITS) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative ints — rows close in BOTH dimensions get close keys,
    so range-partitioning / sorting on the key clusters the data
    multi-dimensionally and parquet min/max stats can skip files for
    2-D predicates (the layout trick behind Delta's OPTIMIZE ZORDER,
    built here from plain bit arithmetic). Pure integer shifts/ors —
    bit-identical on any engine; inputs must already be quantized to
    ``bits`` bits (caller scales/clamps).

    The expression is a static O(bits)-term OR tree — whole-stage
    codegen folds it into straight-line JVM code; no UDF, no shuffle.
    """
    from pyspark.sql import functions as F

    expr = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    for i in range(bits):
        a_bit = F.shiftright(a.cast("bigint"), i).bitwiseAND(one)
        b_bit = F.shiftright(b.cast("bigint"), i).bitwiseAND(one)
        expr = expr.bitwiseOR(F.shiftleft(a_bit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(b_bit, 2 * i)
        )
    return expr


def zorder_key_sql(a: str, b: str, bits: int = _ZORDER_BITS) -> str:
    """The SAME Morton expression rendered as engine-neutral SQL text
    (used verbatim by DuckDB oracles) — generated from one rule so the
    two engines cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


# ---------------------------------------------------------------------------
# engine-portable natural logarithm (shared SQL text)
# ---------------------------------------------------------------------------

#: Nearest double to ln 2; the literal parses to the SAME bits on both
#: engines (exponent notation — see _dlit).
_LN2_LIT = "0.6931471805599453e0"


def _dlit(x: float) -> str:
    """Render a float as a literal both engines parse as DOUBLE.

    Bare decimal literals are DECIMAL in BOTH Spark SQL and DuckDB and
    go through engine-specific decimal scale/rounding rules (this
    shipped a 1-micro-unit divergence once — plans/analytics.py
    ``_PSI_*``). Exponent notation is unambiguously DOUBLE in both, and
    ``repr`` is the shortest round-trip form, so the parsed double is
    bit-identical to ``x``."""
    s = repr(float(x))
    return s if "e" in s else s + "e0"


def ln_k_sql(x: str, lo_k: int = -28, hi_k: int = 28) -> str:
    """Stage 1 of the portable ln: the binary exponent k = floor(log2 x)
    as a CASE chain over EXACT power-of-two double literals — integer
    output, no float op at all, so it cannot diverge. Domain
    [2**lo_k, 2**(hi_k+1)); below the floor it clamps to lo_k (the
    series then sees m < 1 and stays correct until z leaves its
    convergence budget around m ≈ 0.5).

    Why not libm: Spark's JVM ``ln`` and DuckDB's C ``ln`` disagree in
    the last ulp (it flipped a floor() quantization boundary in the PSI
    work, plans/analytics.py). This family rebuilds ln from IEEE-754
    BASIC ops only — compare, multiply by exact 2**-k, add, divide —
    which both engines are required to round identically."""
    branches = " ".join(
        f"WHEN {x} >= {_dlit(2.0 ** k)} THEN {k}"
        for k in range(hi_k, lo_k - 1, -1)
    )
    return f"(CASE {branches} ELSE {lo_k} END)"


def ln_m_sql(x: str, k: str, lo_k: int = -28, hi_k: int = 28) -> str:
    """Stage 2: the mantissa m = x * 2**(−k) ∈ [1, 2). Multiplying by a
    power of two is EXACT in IEEE 754 (exponent shift, mantissa bits
    untouched), so m carries x's full precision into the series."""
    branches = " ".join(
        f"WHEN {kk} THEN ({x}) * {_dlit(2.0 ** -kk)}"
        for kk in range(lo_k, hi_k + 1)
    )
    return f"(CASE {k} {branches} END)"


#: Stage 3: z = (m−1)/(m+1) ∈ [0, 1/3) for m ∈ [1, 2) — the atanh
#: argument. Callers alias stage 2 as ``__ln_m`` first so the division
#: happens once.
LN_Z_SQL = "((__ln_m - 1.0e0) / (__ln_m + 1.0e0))"


def ln_from_kz_sql(k: str, z: str) -> str:
    """Stage 4: ln x = k·ln2 + 2·artanh(z), artanh by truncated odd
    series through z¹¹. For z < 1/3 the truncation error is
    < 2·(1/3)¹³/13 ≈ 1.9e-7 — and, unlike libm, the truncation point is
    explicit so both engines compute the identical value, error
    included. Identical text + left-associative SQL arithmetic on both
    engines ⇒ bit-identical doubles by construction."""
    zz = f"({z}*{z})"
    series = (
        f"2.0e0 * {z} * (1.0e0 + {zz}/3.0e0 + {zz}*{zz}/5.0e0"
        f" + {zz}*{zz}*{zz}/7.0e0 + {zz}*{zz}*{zz}*{zz}/9.0e0"
        f" + {zz}*{zz}*{zz}*{zz}*{zz}/11.0e0)"
    )
    return f"(CAST({k} AS DOUBLE) * {_LN2_LIT} + {series})"


def hex_to_bigint_sql(x: str, width: int = 15) -> str:
    """Fixed-width lowercase-hex → BIGINT as shared SQL text (≤ 15 hex
    chars so the value fits int64): Σ digit(i)·16^(width−i), each digit
    via ``instr('0123456789abcdef', substr(x, i, 1)) − 1`` — both
    engines implement instr/substr identically and the arithmetic is
    pure integer, so the conversion cannot diverge. Exists because
    Spark has ``conv(hex, 16, 10)`` but DuckDB has no base-16 string
    parse — the sketch family keeps hashes as hex strings (fixed-width
    hex ORDERS like its integer value) and drops to integers only
    where arithmetic needs them (e.g. the KMV estimator's division)."""
    if width > 15:
        raise ValueError(f"width={width} overflows BIGINT (max 15 hex chars)")
    # Every multiplier is CAST to BIGINT: bare 268435456 (16⁷) parses
    # as INT32 on Spark, and digit ≥ 8 at that position made the INT
    # multiply overflow under ANSI mode (data-dependent — it surfaced
    # only at sf0.1). The CAST promotes the whole term chain to
    # bigint on both engines.
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({x}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (width - 1 - i)} AS BIGINT)"
        for i in range(width)
    )
    return f"(CAST({terms} AS BIGINT))"
