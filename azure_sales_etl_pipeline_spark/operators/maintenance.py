"""Table maintenance operators: incremental aggregate upkeep and
small-file compaction — the two jobs that keep a 100 TB gold layer
usable between full rebuilds.

The reference recomputes every gold mart from scratch each run
(`3_Silver_to_Gold.py:60,66,72,92,112,133` — full overwrite of all six
marts). That's correct and simple at notebook scale; at 100 TB a daily
full rebuild re-shuffles the entire fact history to recompute numbers
that didn't change. ``merge_aggregate`` is the incremental alternative:
aggregate ONLY the new batch at the mart's grain, then merge partial
aggregates into the existing mart (sum+sum, count+count — any
commutative-monoid aggregate). One shuffle over the batch, never over
history.

``compact_table`` addresses the other chronic scale wound: incremental
appends (ingestion `append_evolve`, watermark batches) accrete small
files until scan planning and open() overhead dominate. Compaction
bin-packs to a target file size.

Every whole-table rewrite here commits through writer.py's one
protocol, ``overwrite_table`` (version directory + atomic pointer flip
carrying ``commit_meta``; single writer per table), except
``compact_partitioned``, which rewrites partitions in place through
``write_partitioned``. Those two are the only writers that rewrite
partitions in place (writer.py's non-atomic family). writer.py's
resolver refuses Delta tables for every read and write here.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import local_df
from pyspark.sql.window import Window

from ..catalog import table_exists
from .rounds import cut, iterate
from .writer import _table_dir, overwrite_table, read_table, write_partitioned


def merge_aggregate(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    keys: list[str],
    sums: list[str],
    count_col: str = "n_rows",
    commit_meta: dict | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
) -> DataFrame:
    """Incrementally maintain a grouped aggregate: fold ``batch`` into
    the mart at ``mart_path`` keyed on ``keys``, where the mart carries
    ``sum(<c>) AS <c>`` for each c in ``sums`` plus a row count.

    Only mergeable (commutative-monoid) aggregates belong here: sums,
    counts, min/max — their partials combine associatively, so
    mart ⊕ agg(batch) ≡ agg(history ∪ batch) and equality with a full
    recompute is testable (tests/test_maintenance.py). Non-mergeable
    exact aggregates (countDistinct, exact percentiles) need either the
    full recompute or a sketch (HLL/t-digest) whose partials merge —
    the same tradeoff the `_approx` gold-mart variant documents.

    Scale shape: the batch is aggregated at the mart grain (one shuffle
    over the BATCH only), the existing mart is read back (narrow scan of
    pre-aggregated rows, orders of magnitude smaller than the fact
    history), and the union re-aggregates on keys that are already
    near-unique per side. History is never re-scanned.
    """
    mins = mins or []
    maxs = maxs or []
    cols = sums + mins + maxs + [count_col]
    if len(set(cols)) != len(cols):
        # each folded column keeps its own name across re-folds, so one
        # source column can carry only one monoid — stage it twice under
        # two names (min_x / max_x) to track both bounds.
        raise ValueError(f"merge_aggregate: duplicate folded columns in {cols}")
    key_overlap = set(keys) & set(cols)
    if key_overlap:
        # a column can't be both a grouping key and a folded aggregate —
        # the re-fold groupBy would consume its own output name.
        raise ValueError(
            f"merge_aggregate: columns {sorted(key_overlap)} appear in both "
            f"keys and folded aggregates"
        )
    agg_exprs = (
        [F.sum(c).alias(c) for c in sums]
        + [F.min(c).alias(c) for c in mins]
        + [F.max(c).alias(c) for c in maxs]
        + [F.count(F.lit(1)).alias(count_col)]
    )
    batch_agg = batch.groupBy(*keys).agg(*agg_exprs)
    if table_exists(mart_path):
        existing = read_table(spark, mart_path)
        # Schema gate (r8 advisory): folding new aggregates against a
        # mart created WITHOUT them would die inside unionByName with an
        # opaque missing-column error. Fail descriptively instead — the
        # persisted state predates the requested aggregate set and needs
        # a rebuild/migration, not a fold.
        wanted = [*keys, *cols]
        lacking = [c for c in wanted if c not in existing.columns]
        if lacking:
            raise ValueError(
                f"merge_aggregate: existing mart at {mart_path} lacks "
                f"columns {lacking} (has {existing.columns}); the mart "
                "state predates these aggregates — rebuild the mart (or "
                "backfill the new columns) before folding into it"
            )
        # min/max re-fold with themselves (idempotent monoids); sums and
        # the row count re-fold by summation.
        merge_exprs = (
            [F.sum(c).alias(c) for c in sums]
            + [F.min(c).alias(c) for c in mins]
            + [F.max(c).alias(c) for c in maxs]
            + [F.sum(count_col).alias(count_col)]
        )
        merged = existing.unionByName(batch_agg).groupBy(*keys).agg(*merge_exprs)
    else:
        merged = batch_agg
    # overwrite_table writes a new version directory and flips the
    # pointer after the job completes, so reading mart_path inside the
    # plan is safe — the old version stays in place until the flip.
    # commit_meta (e.g. a streaming sink's folded batch_id) rides in the
    # same pointer, so mart version and marker commit atomically.
    overwrite_table(merged, mart_path, commit_meta=commit_meta)
    return read_table(spark, mart_path)


def merge_sketch_distinct(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    keys: list[str],
    distinct_col: str,
    sketch_col: str = "distinct_sk",
    commit_meta: dict | None = None,
) -> DataFrame:
    """Incrementally maintain a DISTINCT-count mart via mergeable
    DataSketches-HLL state — the sketch side of ``merge_aggregate``'s
    documented tradeoff: ``countDistinct`` partials don't merge (a
    re-fold over-counts, the A2 quirk), but HLL sketches union
    losslessly, so the mart folds each batch without ever re-scanning
    history. Mart rows carry the serialized sketch per key; read the
    estimate with ``hll_sketch_estimate(<sketch_col>)``.

    Convergence (incremental ≡ full recompute at the estimate level)
    is asserted in tests/test_maintenance.py. Scale shape matches
    merge_aggregate: one shuffle over the BATCH at the mart grain, a
    narrow scan of the (pre-aggregated, sketch-sized) mart, and a
    re-union on near-unique keys.
    """
    batch_agg = batch.groupBy(*keys).agg(
        F.hll_sketch_agg(distinct_col).alias(sketch_col)
    )
    if table_exists(mart_path):
        existing = read_table(spark, mart_path)
        merged = (
            existing.unionByName(batch_agg)
            .groupBy(*keys)
            .agg(F.hll_union_agg(sketch_col).alias(sketch_col))
        )
    else:
        merged = batch_agg
    overwrite_table(merged, mart_path, commit_meta=commit_meta)
    return read_table(spark, mart_path)


def merge_fingerprint_index(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str = "fingerprint",
    commit_meta: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new document batch against a PERSISTED fingerprint index
    — cross-batch exact dedup without ever re-scanning history, the
    incremental form of ``plans.dedup.exact_dedup`` (same normalized
    sha256 fingerprint, same keeper/dup_count schema).

    Returns ``(survivors, index)``: ``survivors`` is the batch rows
    that are genuinely new content — first occurrence within the batch
    AND absent from the index — i.e. what an ingestion pipeline should
    forward downstream; ``index`` is the updated index read back after
    its atomic overwrite. Keepers are FIRST-SEEN-WINS across batches
    (an earlier batch's keeper never changes when a later batch re-sees
    the content); ``dup_count`` accumulates total occurrences.

    Scale shape matches ``merge_aggregate``: one fingerprint-keyed
    shuffle over the BATCH, a narrow scan of the index (one row per
    distinct content — orders of magnitude smaller than raw history),
    and a re-union on near-unique keys. At 100 TB, bucket the index on
    the fingerprint (``plans.scale.write_bucketed``) so the anti-join
    and the merge both co-locate without shuffling the index.
    Convergence (sequential batches ≡ one-shot exact_dedup when ids
    are batch-monotonic) is asserted in tests/test_maintenance.py.
    """
    fp = F.sha2(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), 256
    )
    batch_fp = batch.withColumn(fingerprint_col, fp)
    w = Window.partitionBy(fingerprint_col).orderBy(id_col)
    batch_first = (
        batch_fp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    batch_idx = batch_fp.groupBy(fingerprint_col).agg(
        F.min(id_col).alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    if table_exists(index_path):
        existing = read_table(spark, index_path)
        survivors = batch_first.join(
            existing.select(fingerprint_col), fingerprint_col, "left_anti"
        )
        merged = (
            existing.withColumn("__gen", F.lit(0))
            .unionByName(batch_idx.withColumn("__gen", F.lit(1)))
            .groupBy(fingerprint_col)
            .agg(
                # first-seen-wins: the existing index row (gen 0) keeps
                # the keeper; min keeper_doc_id breaks same-gen ties
                F.min_by(
                    "keeper_doc_id", F.struct("__gen", "keeper_doc_id")
                ).alias("keeper_doc_id"),
                F.sum("dup_count").alias("dup_count"),
            )
        )
    else:
        survivors = batch_first
        merged = batch_idx
    # The survivors plan reads the CURRENT index files; pin the result
    # on executors before the overwrite below prunes them.
    survivors = cut(survivors)
    overwrite_table(merged, index_path, commit_meta=commit_meta)
    return survivors, read_table(spark, index_path)


_CC_MAX_ITERS = 8  # pointer-doubling rounds: covers diameters up to ~2^8


def _cc_min_label(edges: DataFrame) -> DataFrame:
    """Min-label connected components over a ``(src, dst)`` edge list —
    ``(node, label)`` for every node that appears in an edge, labeled
    with the minimum node id reachable from it. The one CC kernel: the
    corpus-wide ``plans.mlprep.dedup_clusters``, the contracted-graph
    fold ``merge_cluster_labels`` and ``golden_part_records`` all run
    it. Duplicate edges and ``src == dst`` edges are harmless (every
    aggregate is a min/max), so callers need not dedup.

    Min-label propagation with pointer doubling: each round is (a) one
    equi-join (adj ⋈ labels, shuffle on node) + one min-aggregate,
    then (b) labels compress through themselves (label ← label-of-
    label), which halves remaining path lengths. Without (b) rounds
    needed = component diameter (dup CHAINS make that linear); with
    it, O(log diameter), so ``_CC_MAX_ITERS`` rounds cover diameters
    up to ~2^8 — past that ``rounds.iterate`` raises rather than return
    partial (mislabeled) components. At the fixed point every label
    equals the min over its closed neighborhood and labels are
    idempotent, which forces label = component minimum.

    Node/label values are an ARBITRARY orderable type (the golden-
    record query runs this over part-name STRINGS), so every probe
    below must stay type-generic — pinned by the hypothesis test in
    ``tests/test_properties.py``."""
    # Undirected + one self-loop per node: (v, v) rows make the
    # per-round neighbor-min aggregate yield min over the CLOSED
    # neighborhood directly, so no re-join of the label table is needed
    # for the least(own, nbr) step. The self-loop row doubles as the
    # carrier of the node's OLD label into the aggregate
    # (``doc_b == doc_a`` identifies it), which keeps the changed-count
    # convergence probe type-generic with no extra join.
    und = edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")).union(
        edges.select(F.col("dst").alias("doc_a"), F.col("src").alias("doc_b"))
    )
    adj = cut(und.union(und.select(F.col("doc_a"), F.col("doc_a").alias("doc_b"))))
    # Seed each label with the closed-neighborhood min — the same
    # one-groupBy pass the identity seed needs to build the node set,
    # but it banks the first propagation round for free.
    seed = cut(
        adj.groupBy(F.col("doc_a").alias("node")).agg(F.min("doc_b").alias("label"))
    )

    def pointer_double(labels: DataFrame, _rnd: int, obs: Observation) -> DataFrame:
        mid = (
            adj.join(labels, adj.doc_b == labels.node)
            .groupBy("doc_a")
            .agg(
                F.min("label").alias("mid"),
                # the node's own current label, read off its self-loop
                F.max(F.when(adj.doc_b == F.col("doc_a"), F.col("label"))).alias(
                    "old"
                ),
            )
        )
        # label <- label(label), a total self-join on `mid`, left uncut:
        # count(r_old) keeps `old` alive on the lab_map side so both
        # sides reuse one groupBy exchange (the rule in ``rounds``).
        lab_map = mid.select(
            F.col("doc_a").alias("r_node"),
            F.col("mid").alias("r_lab"),
            F.col("old").alias("r_old"),
        )
        return (
            mid.join(lab_map, F.col("mid") == F.col("r_node"))
            .observe(
                obs,
                F.count(F.when(F.col("r_lab") != F.col("old"), 1)).alias("changed"),
                F.count("r_old").alias("_reuse"),
            )
            .select(F.col("doc_a").alias("node"), F.col("r_lab").alias("label"))
        )

    return iterate(
        seed,
        pointer_double,
        max_rounds=_CC_MAX_ITERS,
        converged=lambda probe: probe["changed"] == 0,
    )


def merge_cluster_labels(
    spark: SparkSession,
    labels_path: str,
    new_edges: DataFrame,
    new_nodes: DataFrame,
    *,
    commit_meta: dict | None = None,
) -> DataFrame:
    """Fold a batch of near-dup edges into a PERSISTED cluster-label
    table — incremental connected components, the index-maintenance
    form of ``plans.mlprep.dedup_clusters`` (same min-doc_id labels):
    new documents join existing clusters, and a new bridge document
    MERGES two old clusters, without ever re-running CC over history.

    The textbook label-contraction fold:

    1. map each new edge's endpoints to their CURRENT labels (old
       nodes → persisted label, new nodes → themselves);
    2. contract: edges between LABELS (self-loops drop) — a graph
       whose size is O(new edges), independent of corpus size;
    3. run min-label CC on the contracted graph (``_cc_min_label``,
       the same kernel ``dedup_clusters`` runs; old clusters are single
       contracted nodes, and the repeated label edges two clusters
       share need no dedup — the kernel's aggregates are min/max);
    4. remap: one hash join of the persisted label table against the
       label→label fix-ups (clusters untouched by the batch pass
       through), plus one lookup for the new nodes, union, atomic
       overwrite.

    History is touched exactly once, by the remap join in (4) — at
    100 TB bucket the label table on ``cluster_id`` and broadcast the
    fix-up map (its size is bounded by the batch's edge count).
    Sequential folds converge to the one-shot CC answer exactly —
    driver-hash-checked via ``cluster_labels_two_batch`` and pinned by
    a bridge-merge pytest.

    ``new_edges``: (doc_a, doc_b) candidate pairs with at least one
    endpoint in the batch (in production these come from the persisted
    LSH band index — cross-batch candidates without scanning history).
    ``new_nodes``: one ``doc_id`` row per batch document (singletons
    included — they enter as their own clusters).
    """
    if table_exists(labels_path):
        old = read_table(spark, labels_path).select("doc_id", "cluster_id")
    else:
        old = local_df(spark, [], "doc_id long, cluster_id long")
    old_map = old.select(
        F.col("doc_id").alias("m_doc"), F.col("cluster_id").alias("m_lab")
    )
    seeded = (
        new_edges.select("doc_a", "doc_b")
        .join(old_map, F.col("doc_a") == F.col("m_doc"), "left")
        .select(
            F.coalesce("m_lab", "doc_a").alias("lab_a"), "doc_b"
        )
        .join(old_map, F.col("doc_b") == F.col("m_doc"), "left")
        .select("lab_a", F.coalesce("m_lab", "doc_b").alias("lab_b"))
    )
    contracted = seeded.where(F.col("lab_a") != F.col("lab_b")).select(
        F.col("lab_a").alias("src"), F.col("lab_b").alias("dst")
    )
    remap = _cc_min_label(contracted).select(
        F.col("node").alias("r_node"), F.col("label").alias("r_lab")
    )
    updated_old = old.join(
        remap, old.cluster_id == F.col("r_node"), "left"
    ).select(
        "doc_id", F.coalesce("r_lab", "cluster_id").alias("cluster_id")
    )
    new_rows = new_nodes.select("doc_id").join(
        remap, F.col("doc_id") == F.col("r_node"), "left"
    ).select("doc_id", F.coalesce("r_lab", "doc_id").alias("cluster_id"))
    # No pre-write checkpoint: overwrite_table writes a new version
    # directory and flips the pointer only after the job completes, so
    # the plan's reads of the CURRENT label files (old / old_map) all
    # happen while those files still exist — the contract
    # merge_aggregate documents.
    # An eager localCheckpoint here was a full extra materialization of
    # the merged table per fold (A/B'd in OPTIMIZATION_r16.md).
    merged = updated_old.unionByName(new_rows)
    overwrite_table(merged, labels_path, commit_meta=commit_meta)
    return read_table(spark, labels_path)


_DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _data_files(d: Path) -> list[Path]:
    return [p for p in d.glob("*.parquet") if not p.name.startswith("_")]


def _pack(df: DataFrame, files: list[Path], target_bytes: int) -> DataFrame:
    """``df`` re-split toward ``target_bytes`` per file, sized from the
    on-disk bytes of ``files`` (metadata listing — no data read). Uses
    ``coalesce`` when shrinking (narrow — no shuffle: existing
    partitions are concatenated) and ``repartition`` only when a single
    oversized file must split (that one needs the shuffle)."""
    want = max(1, -(-sum(f.stat().st_size for f in files) // target_bytes))  # ceil
    return df.coalesce(want) if want <= len(files) else df.repartition(want)


def compact_table(
    spark: SparkSession, path: str, target_bytes: int = _DEFAULT_TARGET_BYTES
) -> int:
    """Bin-pack a parquet table's files toward ``target_bytes`` each and
    commit the compacted version as one more ``overwrite_table`` write.
    Returns the new file count. Compaction is proportional to one table
    rewrite and can be scheduled per-partition at scale."""
    d = _table_dir(path)
    if d is None:
        raise ValueError(f"no committed table at {path}")
    files = _data_files(d)
    if not files:
        # Hive-partitioned layout (key=value subdirs) or empty table: a
        # whole-table coalesce would rewrite WITHOUT the partition
        # columns in the directory structure — silent layout loss.
        # Partitioned compaction must run per-partition directory.
        subdirs = [p for p in d.iterdir() if p.is_dir() and "=" in p.name]
        if subdirs:
            raise ValueError(
                f"{path} is Hive-partitioned ({subdirs[0].name}, ...): use "
                "compact_partitioned, which compacts each partition directory"
            )
        raise ValueError(f"no parquet files found under {path}")
    overwrite_table(_pack(read_table(spark, path), files, target_bytes), path)
    return len(_data_files(_table_dir(path)))


def compact_partitioned(
    spark: SparkSession, path: str, target_bytes: int = _DEFAULT_TARGET_BYTES
) -> dict[str, int]:
    """Compact a Hive-partitioned table (``write_partitioned`` layout)
    partition directory by partition directory — the form
    ``compact_table`` refuses, because a whole-table rewrite would drop
    the key=value directory structure. Returns {partition_dir: new file
    count}.

    The driver loop iterates partition METADATA (one directory name +
    size listing per partition — control-plane, no data); each
    partition is rewritten by ``write_partitioned``'s dynamic partition
    overwrite, which replaces that directory and no other. This is the
    non-atomic family of writer.py's module docstring: a crash inside
    one partition's replace can lose that partition, while every
    completed partition stays valid and every untouched partition
    intact. At 100 TB this is exactly how compaction is scheduled
    anyway: per partition, prioritized by small-file count, never as
    one table-wide job."""
    root = _table_dir(path)
    parts = [] if root != Path(path) else sorted(
        p for p in root.iterdir() if p.is_dir() and "=" in p.name
    )
    if not parts:
        raise ValueError(
            f"{path} has no key=value partition directories; use compact_table"
        )
    counts = {}
    for part in parts:
        key, raw = part.name.split("=", 1)
        value = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        df = spark.read.parquet(str(part)).withColumn(key, F.lit(value))
        write_partitioned(_pack(df, _data_files(part), target_bytes), path, [key])
        counts[part.name] = len(_data_files(part))
    return counts


def erase_cascade(
    spark: SparkSession,
    root_keys: DataFrame,
    steps: list[dict],
) -> list[dict]:
    """Right-to-erasure cascade (GDPR Art. 17 / CCPA delete): remove a
    set of root entities AND every dependent row they fan out to,
    across a chain of FK edges, with per-table audit counts. The
    governance complement to `customer_masked_export` (masking) and
    `k_anonymity_audit` (risk measurement) — this one actually forgets.

    ``steps`` are declared PARENT-FIRST; each names the doom-set it
    filters on and may emit the next one::

        {"path": ..., "match": <key col>, "doom": <doom-set name>,
         "emit": (<col>, <new doom-set name>)   # optional
        }

    with the root key set registered as doom-set ``"root"``. All doom
    sets are resolved (and cut) BEFORE any rewrite, then
    tables rewrite CHILDREN-FIRST: a crash between rewrites leaves a
    partially-erased but referentially-INTACT star (children vanish
    before their parents, so no intermediate state ever has a dangling
    FK), and the whole cascade is idempotent — re-running with the same
    keys matches nothing and rewrites nothing away.

    Each rewrite is one anti-join + the atomic ``overwrite_table``
    commit (erasure count stamped into its ``commit_meta``).
    At 100 TB: erasure batches are folded weekly, the anti-join is one
    keyed shuffle per table (or partition-pruned when the table is
    partitioned by the match key), and the doom sets — not the tables —
    are what crosses stage boundaries. Returns parent-first
    ``[{table, rows_before, rows_removed, rows_after}, ...]``."""
    dooms: dict[str, DataFrame] = {
        "root": cut(root_keys.toDF("__doom_k").distinct())
    }
    plans: list[tuple[dict, DataFrame, DataFrame]] = []
    for st in steps:
        df = read_table(spark, st["path"])
        doom = dooms[st["doom"]].withColumnRenamed("__doom_k", st["match"])
        if "emit" in st:
            col, name = st["emit"]
            dooms[name] = cut(
                df.join(doom, st["match"], "left_semi")
                .select(F.col(col).alias("__doom_k"))
                .distinct()
            )
        plans.append((st, df, doom))
    report: list[dict] = []
    for st, df, doom in reversed(plans):
        # The before/after audit counts ride the rewrite job itself via
        # observe() (CollectMetrics above and below the anti-join)
        # instead of two extra count() actions — ONE pass per table
        # computes the survivors, writes them, and audits the erasure.
        # commit_meta is the post-data-write callable form, so the
        # erased-rows marker still commits in the same pointer flip.
        o_in, o_out = Observation(), Observation()
        keep = (
            df.observe(o_in, F.count(F.lit(1)).alias("n"))
            .join(doom, st["match"], "left_anti")
            .observe(o_out, F.count(F.lit(1)).alias("n"))
        )
        overwrite_table(
            keep,
            st["path"],
            commit_meta=lambda o_in=o_in, o_out=o_out: {
                "erased_rows": int(o_in.get["n"]) - int(o_out.get["n"])
            },
        )
        before, after = int(o_in.get["n"]), int(o_out.get["n"])
        report.append(
            {
                "table": Path(st["path"]).name,
                "rows_before": before,
                "rows_removed": before - after,
                "rows_after": after,
            }
        )
    report.reverse()
    return report


def merge_kmin(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    key_col: str = "h",
    k: int = 256,
    commit_meta: dict | None = None,
) -> DataFrame:
    """Fold a batch into persisted K-MINIMUM-VALUES state: the k
    smallest DISTINCT keys of (state ∪ batch). Min-union is an
    IDEMPOTENT commutative monoid — the folded state is identical to
    the single-pass sketch over the union of all batches under any
    batching, reordering, or redelivery (idempotence makes replays
    structurally harmless; the ``commit_meta`` marker still rides the
    commit so fold accounting stays uniform with the additive marts).
    The state is ≤ k rows forever; history is never re-read.

    Scale shape: the batch contributes at most its own k smallest
    (TakeOrderedAndProject — per-partition heaps, no global sort), the
    state read is k rows, and the merge is a ≤ 2k-row re-limit."""
    b = (
        batch.select(F.col(key_col).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    if table_exists(state_path):
        cur = read_table(spark, state_path).select("h")
        merged = cur.unionByName(b).distinct().orderBy("h").limit(k)
    else:
        merged = b
    overwrite_table(merged, state_path, commit_meta=commit_meta)
    return read_table(spark, state_path)
