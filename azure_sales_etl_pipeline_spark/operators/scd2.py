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
(writer.py's version-directory + pointer-flip protocol) —
history ∪ survivors ∪ expired ∪ new-versions — so a crash leaves either
the old table or the new one, never half.

Scale: the full-outer join shuffles both sides on the business key
(sort-merge at dimension scale). The hash is computed map-side before
the shuffle. Two storage modes behind one API:

- ``n_buckets=None`` (default): whole-table ``overwrite_table`` rewrite
  per batch — simplest, atomic, right for small/medium dimensions.
- ``n_buckets=N``: the table is partitioned by a stable key-hash bucket
  (``pmod(xxhash64(key), N)``) and an upsert rewrites ONLY the buckets
  containing changed keys via dynamic partition overwrite
  (``partitionOverwriteMode=dynamic``, set in session.py). At 100 TB
  this turns "rewrite the dimension" into "rewrite touched buckets":
  untouched bucket files are not read or written. This is writer.py's
  documented non-atomic family: per-bucket overwrite is not atomic
  ACROSS buckets — a crash mid-upsert leaves some buckets advanced;
  the watermark-replay contract (advance only after success) re-runs
  the batch and SCD2's NO-CHANGE detection makes the replay a no-op
  for already-advanced buckets, restoring consistency. This is
  the same at-least-once self-heal the reference relies on (SURVEY §3).

An injectable ``clock`` makes effective/end timestamps deterministic for
tests and oracles (SURVEY.md F1 nondeterminism risk).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_exists
from ..functions import hash_diff, utcnow_naive
from .writer import overwrite_table, read_table, table_schema

SCD_COLS = ("hash", "is_current", "effective_date", "end_date")
BUCKET_COL = "__bucket"


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
        n_buckets: int | None = None,
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
        self.n_buckets = n_buckets
        self.on_delete = on_delete

    def _bucket_of(self, key_col: Column) -> Column:
        return F.pmod(F.xxhash64(key_col), F.lit(self.n_buckets)).cast("int")

    # -- reads ------------------------------------------------------------

    def history(self) -> DataFrame:
        df = read_table(self.spark, self.path)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def _history_raw(self) -> DataFrame:
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
        dim_cols = [c for c in hist.columns if c not in SCD_COLS and c != BUCKET_COL]
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
            if f.name != self.key and f.name not in SCD_COLS and f.name != BUCKET_COL
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

    def _with_scd(self, df: DataFrame, now: dt.datetime) -> DataFrame:
        return (
            df.withColumn("hash", hash_diff(self._tracked(df)))
            .withColumn("is_current", F.lit(True))
            .withColumn("effective_date", F.lit(now).cast("timestamp"))
            .withColumn("end_date", F.lit(None).cast("timestamp"))
        )

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
            first = self._with_scd(source, now).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            if self.n_buckets:
                first = first.withColumn(BUCKET_COL, self._bucket_of(F.col(self.key)))
                first.write.partitionBy(BUCKET_COL).mode("errorifexists").parquet(self.path)
            else:
                overwrite_table(first, self.path)
            n = int(obs.get["n"])
            if self.on_insert is not None and n:
                self.on_insert(source)
            stats0 = {"insert": n, "update": 0, "no_change": 0}
            if self.on_delete == "expire":
                stats0["deleted"] = 0
            return stats0

        target = self.history().cache()
        tgt_current = target.where(F.col("is_current"))

        s = source.withColumn("hash", hash_diff(self._tracked(source))).alias("s")
        t = tgt_current.alias("t")
        key_s, key_t = F.col(f"s.{self.key}"), F.col(f"t.{self.key}")

        joined = s.join(t, key_s == key_t, "full_outer")
        classified = joined.select(
            F.coalesce(key_s, key_t).alias("__key"),
            F.when(key_t.isNull(), "INSERT")
            .when(key_s.isNull(), "ABSENT")
            .when(F.col("s.hash") != F.col("t.hash"), "UPDATE")
            .otherwise("NO CHANGE")
            .alias("__action"),
        ).cache()

        counts = {
            r["__action"]: r["n"]
            for r in classified.groupBy("__action").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_insert = counts.get("INSERT", 0)
        n_update = counts.get("UPDATE", 0)
        # ABSENT rows become deletions only in "expire" mode; in the
        # default mode they're detected-but-unacted (reference parity).
        n_delete = counts.get("ABSENT", 0) if expire_mode else 0
        stats = {
            "insert": n_insert,
            "update": n_update,
            "no_change": counts.get("NO CHANGE", 0),
        }
        if self.on_delete == "expire":
            stats["deleted"] = n_delete
        if n_insert == 0 and n_update == 0 and n_delete == 0:
            classified.unpersist()
            target.unpersist()
            return stats

        # Keys whose bucket/table content changes this batch: new-version
        # keys plus (expire mode) deleted keys. Source has no rows for
        # ABSENT keys, so including them in the new-versions semi-join is
        # a no-op — one key set serves both purposes.
        expire_actions = ("UPDATE", "ABSENT") if expire_mode else ("UPDATE",)
        changed_keys = classified.where(
            F.col("__action").isin("INSERT", *expire_actions)
        ).select("__key")
        expire_keys = (
            classified.where(F.col("__action").isin(*expire_actions))
            .select("__key")
            .distinct()
        )

        # New current versions: source rows whose key is INSERT or UPDATE
        # (the reference's select("s.*") after filtering actions, :122).
        new_versions = self._with_scd(
            source.join(
                F.broadcast(changed_keys)
                if n_insert + n_update + n_delete < 1_000_000
                else changed_keys,
                source[self.key] == F.col("__key"),
                "left_semi",
            ),
            now,
        )

        # Expire old current versions of updated keys (the reference's
        # MERGE whenMatchedUpdate, :127-133).
        expiring = (
            tgt_current.join(expire_keys, tgt_current[self.key] == F.col("__key"), "left_semi")
            .withColumn("is_current", F.lit(False))
            .withColumn("end_date", F.lit(now).cast("timestamp"))
        )
        surviving_current = tgt_current.join(
            expire_keys, tgt_current[self.key] == F.col("__key"), "left_anti"
        )
        history_rows = target.where(~F.col("is_current"))

        # allowMissingColumns: a schema-evolved batch (new source column,
        # or a column the batch dropped) null-backfills the other side —
        # same contract as writer.append_evolve. A strict select(*cols)
        # here raised AnalysisException on evolved batches (r2 advisory).
        rewritten = (
            history_rows.unionByName(surviving_current, allowMissingColumns=True)
            .unionByName(expiring, allowMissingColumns=True)
            .unionByName(new_versions, allowMissingColumns=True)
        )
        if self.n_buckets:
            # Surgical path: rewrite only buckets containing a changed key.
            # Re-read the target pruned on the PARTITION column (__bucket
            # isin(...) → partition pruning: untouched buckets are neither
            # read nor written), rebuild those buckets' full content, and
            # let dynamic partition overwrite replace exactly those
            # directories.
            changed_buckets = [
                r["b"]
                for r in changed_keys.select(
                    self._bucket_of(F.col("__key")).alias("b")
                )
                .distinct()
                .collect()
            ]
            pruned = self._history_raw().where(F.col(BUCKET_COL).isin(changed_buckets))
            pruned_cur = pruned.where(F.col("is_current"))
            bucket_rows = (
                pruned.where(~F.col("is_current"))
                .unionByName(
                    pruned_cur.join(
                        expire_keys, pruned_cur[self.key] == F.col("__key"), "left_anti"
                    ),
                    allowMissingColumns=True,
                )
                .unionByName(
                    pruned_cur.join(
                        expire_keys, pruned_cur[self.key] == F.col("__key"), "left_semi"
                    )
                    .withColumn("is_current", F.lit(False))
                    .withColumn("end_date", F.lit(now).cast("timestamp")),
                    allowMissingColumns=True,
                )
                .unionByName(
                    new_versions.withColumn(
                        BUCKET_COL, self._bucket_of(F.col(self.key))
                    ),
                    allowMissingColumns=True,
                )
            )
            staged = bucket_rows.localCheckpoint(eager=True)
            staged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(self.path)
        else:
            # No pre-write materialization needed: overwrite_table
            # writes a new version directory and flips the pointer only
            # after the job completes, so the plan's reads of the
            # CURRENT table files happen while those files still exist
            # (the contract merge_aggregate relies on). The bucketed branch above MUST
            # keep its checkpoint — dynamic partition overwrite writes
            # directly into self.path while the plan reads it.
            overwrite_table(rewritten, self.path)

        if self.on_insert is not None and n_insert:
            insert_keys = classified.where(F.col("__action") == "INSERT").select("__key")
            inserts = source.join(
                insert_keys, source[self.key] == F.col("__key"), "left_semi"
            )
            self.on_insert(inserts)

        classified.unpersist()
        target.unpersist()
        return stats
