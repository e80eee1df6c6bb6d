"""SCD Type 2 upsert on parquet — the reference's algorithmic core
(/root/reference/databricks_notebooks/2_Bronze_to_Silver.py:72-140)
re-expressed Spark-first.

Semantics (faithful to the reference):
- change detection by ``sha2(concat_ws('||', tracked_cols), 256)``
  including concat_ws's null-skip quirk (SURVEY.md F3/F4)
- full-outer join source-vs-current-target on the business key, 3-way
  CASE classification INSERT / UPDATE / NO CHANGE (J1, P7, T5)
- UPDATE expires the old version (is_current=false, end_date=now) and
  appends a new current version; INSERT appends a first version (T6)
- deletes are detected (target-only rows) and, by default, not acted
  on — the reference marks them "Optional / not implemented"
  (README.MD:141). ``on_delete="expire"`` opts into closing that gap:
  ABSENT keys get their current version expired (is_current=false,
  end_date=now) with no successor row — the standard soft-delete SCD2
  answer. Only valid when each batch is a FULL snapshot of the source
  (absence means deletion); incremental CDC batches must keep the
  default, where absence just means "no change arrived".

Deliberate divergence: the reference's expire-then-append is TWO Delta
commits with a corruption window between them (SURVEY.md §3). On plain
parquet the engine rewrites the table as ONE ``overwrite_table`` commit
(writer.py's version-directory + pointer-flip protocol) — history ∪
current rows (expired where changed) ∪ new versions — so a crash leaves
either the old table or the new one, never half.

Scale: one pass. The batch (hashed map-side) and the current rows are
shuffled ONCE on the business key into a full-outer join that carries
both sides' full rows and classifies every pair; ``rounds.cut``
materializes it once, the per-action counts ride that cut as observed
metrics, and the rewrite and ``on_insert`` read the cut. A key repeated
on either side (the join fans out to one row per pair) is handled
row-locally by per-key windows that reuse the join's shuffle. An
all-NO-CHANGE replay stops after the cut. Every batch that changes
something rewrites the whole table through ``overwrite_table``, so the
dimension is always a pointer table with a pinned schema, including
after an empty first load.

An injectable ``clock`` makes effective/end timestamps deterministic for
tests and oracles (SURVEY.md F1 nondeterminism risk).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table_exists
from ..functions import hash_diff, utcnow_naive
from .rounds import cut, scope
from .writer import overwrite_table, read_table, table_schema

SCD_COLS = ("hash", "is_current", "effective_date", "end_date")
_ACTIONS = ("INSERT", "UPDATE", "NO CHANGE", "ABSENT")


class SCD2Table:
    """One SCD2-managed dimension table at ``path``.

    ``on_insert``: optional side-output callback receiving the INSERT-
    action rows (the reference's new-customers-for-emailing hook,
    2_Bronze_to_Silver.py:108-119 / T7). Called only when inserts exist.

    ``on_delete``: ``"ignore"`` (default — faithful to the reference's
    documented non-handling, README.MD:141) or ``"expire"`` (full-
    snapshot batches: keys absent from the batch get their current
    version expired). See module docstring.
    """

    ON_DELETE_MODES = ("ignore", "expire")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        business_key: str,
        tracked_cols: Sequence[str] | None = None,
        clock: Callable[[], dt.datetime] | None = None,
        on_insert: Callable[[DataFrame], None] | None = None,
        on_delete: str = "ignore",
    ):
        if on_delete not in self.ON_DELETE_MODES:
            raise ValueError(
                f"on_delete must be one of {self.ON_DELETE_MODES}, got {on_delete!r}"
            )
        self.spark = spark
        self.path = path
        self.key = business_key
        self.tracked_cols = list(tracked_cols) if tracked_cols else None
        self.clock = clock or utcnow_naive
        self.on_insert = on_insert
        self.on_delete = on_delete

    # -- reads ------------------------------------------------------------

    def history(self) -> DataFrame:
        return read_table(self.spark, self.path)

    def current(self) -> DataFrame:
        return self.history().where(F.col("is_current"))

    def as_of(self, ts) -> DataFrame:
        """Point-in-time snapshot: the version of every key that was in
        effect at ``ts`` — the time-travel read SCD2 history exists to
        answer ("what did the dimension say when that order shipped?").
        A version covers ``ts`` iff ``effective_date <= ts < end_date``
        (open end = still current); keys first seen after ``ts`` drop
        out. Pure filter over the history scan — version ranges are
        disjoint per key by upsert construction, so no window or
        dedup is needed, and a partition/Z-order on the key prunes at
        100 TB exactly like any other read."""
        return self.history().where(
            (F.col("effective_date") <= F.lit(ts))
            & (F.col("end_date").isNull() | (F.col("end_date") > F.lit(ts)))
        )

    def enrich_asof(
        self, facts: DataFrame, fact_key: str, ts_col: str
    ) -> DataFrame:
        """Temporal enrichment: left-join each fact row to the dimension
        VERSION valid at the fact's own event time (``effective_date <=
        ts < end_date``, open end = still current) — the per-row
        generalization of ``as_of``'s single-timestamp snapshot, and the
        read that keeps ML features leak-free ("the customer's segment
        AS OF the order", never as of today).

        Scalable temporal-join shape: an EQUI-join on the entity key
        with the validity interval as a residual predicate. Versions per
        key are few by construction, so the residual prunes locally
        after the key shuffle — never a time-bucketed interval range
        join when an entity key exists. Left join: facts referencing
        never-loaded keys keep NULL dimension attributes (they surface,
        not vanish). EVERY dimension-side column is prefixed ``dim_`` —
        including the validity interval itself (``dim_effective_date`` /
        ``dim_end_date``), so a facts table that carries its own
        ``effective_date``/``end_date`` columns (common in ETL facts)
        neither collides nor gets silently dropped (r8 advisory)."""
        hist = self.history()
        dim_cols = [c for c in hist.columns if c not in SCD_COLS]
        renamed = hist.select(
            *[F.col(c).alias(f"dim_{c}") for c in dim_cols],
            F.col("effective_date").alias("dim_effective_date"),
            F.col("end_date").alias("dim_end_date"),
        )
        ts = facts[ts_col]
        cond = (
            (facts[fact_key] == renamed[f"dim_{self.key}"])
            & (ts >= renamed["dim_effective_date"])
            & (
                renamed["dim_end_date"].isNull()
                | (ts < renamed["dim_end_date"])
            )
        )
        return facts.join(renamed, cond, "left").drop(
            "dim_effective_date", "dim_end_date"
        )

    def ensure_members(self, keys_df: DataFrame) -> int:
        """Late-arriving dimension handling (Kimball "inferred member"):
        facts sometimes reference dimension keys whose descriptive row
        hasn't arrived yet — dropping the fact loses revenue, holding it
        stalls the pipeline. Instead, insert a PLACEHOLDER version
        (typed NULLs for every tracked column) for each referenced key
        the dimension lacks, so the fact join succeeds today; when the
        real row finally arrives, the normal upsert hash-diff sees the
        change and expires the placeholder into history like any other
        update — no special repair path, the inferred era stays
        auditable as a version whose attributes are NULL. Returns the
        number of members inferred. One left-anti join of the
        (pre-distincted) key set against current — the cheapest probe
        the dimension supports."""
        if not table_exists(self.path):
            raise ValueError(
                f"dimension {self.path} has no initial load; ensure_members "
                "needs the table schema to type the placeholders"
            )
        tracked_fields = [
            f
            for f in table_schema(self.spark, self.path).fields
            if f.name != self.key and f.name not in SCD_COLS
        ]
        missing = (
            keys_df.select(self.key)
            .distinct()
            .join(self.current().select(self.key), self.key, "left_anti")
        )
        placeholders = missing.select(
            self.key,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in tracked_fields],
        )
        if placeholders.isEmpty():
            return 0
        # expire_absent=False: this is a PARTIAL batch (missing keys
        # only). On an on_delete="expire" table, routing it through the
        # default policy would classify every existing current key as
        # ABSENT and soft-delete the whole dimension (r6 advisory).
        return self.upsert(placeholders, expire_absent=False)["insert"]

    # -- internals ---------------------------------------------------------

    def _tracked(self, df: DataFrame) -> list[str]:
        """Runtime column discovery (reference derives tracked cols from
        df.columns minus exclusions, 2_Bronze_to_Silver.py:69-70) so the
        hash adapts to evolved schemas automatically."""
        if self.tracked_cols is not None:
            return self.tracked_cols
        return [c for c in df.columns if c != self.key and c not in SCD_COLS]

    def _hashed(self, df: DataFrame) -> DataFrame:
        return df.withColumn("hash", hash_diff(self._tracked(df)))

    @staticmethod
    def _stamp(df: DataFrame, now: dt.datetime) -> DataFrame:
        return (
            df.withColumn("is_current", F.lit(True))
            .withColumn("effective_date", F.lit(now).cast("timestamp"))
            .withColumn("end_date", F.lit(None).cast("timestamp"))
        )

    def _stats(self, insert: int, update: int, no_change: int, deleted: int) -> dict[str, int]:
        stats = {"insert": insert, "update": update, "no_change": no_change}
        if self.on_delete == "expire":
            stats["deleted"] = deleted
        return stats

    # -- the operator -------------------------------------------------------

    def upsert(self, source: DataFrame, expire_absent: bool | None = None) -> dict[str, int]:
        """Apply one batch. Returns action counts for observability
        (the reference prints them, 2_Bronze_to_Silver.py:104).

        ``expire_absent`` overrides the table-level ``on_delete`` policy
        for this one batch: ``False`` treats ABSENT keys as "no change
        arrived" even on an ``on_delete="expire"`` table. Internal
        callers that apply PARTIAL batches (``ensure_members``'
        missing-keys-only placeholder insert) must pass ``False`` —
        a partial batch under snapshot-deletion semantics would expire
        every key it doesn't mention."""
        if self.key not in source.columns:
            # Fail fast on first load too — otherwise a misconfigured key
            # only surfaces at the second batch's join.
            raise ValueError(
                f"business key {self.key!r} not in batch columns {source.columns}"
            )
        expire_mode = (self.on_delete == "expire") if expire_absent is None else expire_absent
        now = self.clock()
        if not table_exists(self.path):
            # The insert count rides the initial-load write via
            # observe() — counting `first` afterwards re-executed the
            # whole source plan a second time.
            obs = Observation()
            first = self._stamp(self._hashed(source), now).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            overwrite_table(first, self.path)
            n = int(obs.get["n"])
            if self.on_insert is not None and n:
                self.on_insert(source)
            return self._stats(n, 0, 0, 0)

        # One pass (module docstring): classify, cut, write from the cut.
        src = self._hashed(source)
        tgt = self.history().where(F.col("is_current"))
        s, t = _side(src, "s", self.key), _side(tgt, "t", self.key)
        s_in, t_in = F.col("__s_row").isNotNull(), F.col("__t_row").isNotNull()
        # A key repeated on either side fans the join out to one row per
        # (batch row, current row) pair. Each side's per-key window
        # (computed after the join's key shuffle, so no extra exchange)
        # keeps the decision per key and each side's row once: a key is
        # updated unless every hash on both sides is equal; a current
        # row leaves the cut once (with the key's first batch row), and a
        # batch row becomes a new version once (with the first current row).
        one_hash = F.col("__s_hash") == F.col("__t_hash")
        updated = s_in & t_in & ~F.coalesce(one_hash, F.lit(False))
        # ABSENT rows become deletions only in "expire" mode; in the
        # default mode they're detected-but-unacted (reference parity).
        expire = updated | (t_in & ~s_in) if expire_mode else updated
        joined = s.join(t, F.col(f"s__{self.key}") == F.col(f"t__{self.key}"), "full_outer")
        joined = joined.select(
            *[c for c in joined.columns if not c.startswith("__")],
            F.when(~t_in, "INSERT")
            .when(~s_in, "ABSENT")
            .when(F.col("s__hash") != F.col("t__hash"), "UPDATE")
            .otherwise("NO CHANGE")
            .alias("__action"),
            expire.alias("__expire"),
            (t_in & (~s_in | (F.col("__s_row") == F.col("__s_first")))).alias("__current"),
            (s_in & (~t_in | (updated & (F.col("__t_row") == F.col("__t_first"))))).alias("__new"),
        )
        action = F.col("__action")
        metrics = [F.count(F.when(action == a, 1)).alias(a) for a in _ACTIONS]
        obs = Observation()
        with scope():  # frees every cut below on the way out
            joined = cut(joined.observe(obs, *metrics))
            m = obs.get
            n_insert, n_update = m["INSERT"], m["UPDATE"]
            n_delete = m["ABSENT"] if expire_mode else 0
            stats = self._stats(n_insert, n_update, m["NO CHANGE"], n_delete)
            if n_insert == 0 and n_update == 0 and n_delete == 0:
                return stats

            expired = F.col("__expire")
            current = joined.where(F.col("__current")).select(
                *[
                    (~expired).alias(c) if c == "is_current"
                    else F.when(expired, F.lit(now).cast("timestamp"))
                    .otherwise(F.col("t__end_date")).alias(c) if c == "end_date"
                    else F.col(f"t__{c}").alias(c)
                    for c in tgt.columns
                ]
            )
            new = self._stamp(
                joined.where(F.col("__new")).select(
                    *[F.col(f"s__{c}").alias(c) for c in src.columns]
                ),
                now,
            )

            # allowMissingColumns: a schema-evolved batch (new source
            # column, or a column the batch dropped) null-backfills the
            # other side — same contract as writer.append_evolve. No
            # pre-write materialization needed: overwrite_table writes a
            # new version directory and flips the pointer only after the
            # job completes, so the plan's reads of the CURRENT table
            # files happen while those files still exist.
            overwrite_table(
                self.history()
                .where(~F.col("is_current"))
                .unionByName(current, allowMissingColumns=True)
                .unionByName(new, allowMissingColumns=True),
                self.path,
            )

            if self.on_insert is not None and n_insert:
                self.on_insert(
                    joined.where(action == "INSERT").select(
                        *[F.col(f"s__{c}").alias(c) for c in source.columns]
                    )
                )
            return stats


def _side(df: DataFrame, side: str, key: str) -> DataFrame:
    """One join side: ``df``'s columns as ``<side>__<col>``, a
    ``__<side>_row`` row id, and per key the first row id
    (``__<side>_first``) and the hash all its rows share
    (``__<side>_hash``; null if they differ)."""
    row, by_key = f"__{side}_row", Window.partitionBy(f"{side}__{key}")
    lo, hi = (agg(f"{side}__hash").over(by_key) for agg in (F.min, F.max))
    return (
        df.select(
            *[F.col(c).alias(f"{side}__{c}") for c in df.columns],
            F.monotonically_increasing_id().alias(row),
        )
        .withColumn(f"__{side}_first", F.min(row).over(by_key))
        .withColumn(f"__{side}_hash", F.when(lo == hi, lo))
    )
