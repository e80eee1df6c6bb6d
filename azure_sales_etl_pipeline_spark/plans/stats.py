"""Resampling, agreement, and ranking estimators — the statistical-rigor
layer a 100 TB curation pipeline reads its own dashboards with.

Every number a data pipeline publishes (a dedup rate, a quality mean, a
retrieval metric) needs an uncertainty and an agreement story before a
training run bets compute on it. The estimator families here:

- **Resampling / analytic uncertainty** — `poisson_bootstrap_ci` (THE
  distributed bootstrap: per-(row, replicate) Poisson(1) weights,
  Chamandy et al. 2012, replicates form in the SAME map-side-combined
  aggregate as the point estimate; streamed twin in
  `streaming.stream_bootstrap_ci_fold`), `delta_method_ratio_ci`
  (the analytic CI for ratio-of-sums metrics, Deng-Knoblich-Lu 2018),
  `jackknife_source_influence` (leave-one-source-out influence by
  algebra over per-source totals — never a per-source re-scan).
- **Preference / ranking models** — `bradley_terry_strengths` and its
  incremental pair-count fold `bradley_terry_two_batch` (Zermelo fixed
  point over the aggregated pair table; corpus work is one shuffle).
- **Eval-harness estimators** — `pass_at_k_estimator` (HumanEval
  unbiased pass@k as EXACT rationals over a per-k lcm denominator),
  `interrater_kappa` (Cohen's kappa, pure integers end to end).
- **Calibration** — `conformal_interval_calibration` (split-conformal
  intervals with an exact distributed order-statistic quantile + a
  coverage audit), `isotonic_calibration` (exact PAV via the minimax
  characterization — no sequential merge loop).
- **Experiment design / monitoring** — `power_analysis_mde` (A/B
  minimum detectable effect from one moment row),
  `group_sequential_obf` (interim analyses under O'Brien-Fleming
  boundaries), `eb_shrunk_return_rates` (empirical-Bayes pooling of
  per-entity rates).

Exactness discipline (house rules): every sum that crosses a partition
boundary is an integer (floored micro-units where a float is
unavoidable mid-pipe), wide products go through DECIMAL(38,0) /
HUGEINT, float expressions are identical literal text on both engines
(`_dlit`), and hashes are md5 (bit-identical cross-engine).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import _dlit, hex_to_bigint_sql, local_df, plan_barrier
from ..operators.rounds import cut

# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 40  # replicates
# 95% percentile CI by order statistics: ranks 1 and B of the B sorted
# replicate totals sit at plotting positions 1/(B+1) and B/(B+1) —
# ~2.4% per tail at B=40 (ranks 2/B−1 would trim ~4.9%/tail, a ~90%
# interval mislabeled as 95% — r13 self-review finding)
_BOOT_LO_RANK, _BOOT_HI_RANK = 1, _BOOT_B
_BOOT_HEX_W = 15  # md5 prefix width -> uniform on [0, 16^15)
_BOOT_SPACE = 16**_BOOT_HEX_W

# Poisson(1) CDF thresholds scaled to the integer hash space, k = 0..7
# (P(X > 7) ~ 1e-5; the tail collapses into weight 8). SPEC CONSTANTS:
# computed once here with Python floats and embedded as identical
# integer literals in the Spark plan and the DuckDB oracle, so weight
# assignment is pure integer comparison at query time on both engines.
_BOOT_THRESHOLDS = tuple(
    int(sum(math.exp(-1.0) / math.factorial(i) for i in range(k + 1)) * _BOOT_SPACE)
    for k in range(8)
)


def _boot_weight_sql(h: str) -> str:
    """Shared SQL: integer hash -> Poisson(1) weight via CDF thresholds."""
    arms = " ".join(
        f"WHEN {h} < CAST({t} AS BIGINT) THEN {k}"
        for k, t in enumerate(_BOOT_THRESHOLDS)
    )
    return f"(CASE {arms} ELSE 8 END)"


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for total order revenue via the POISSON
    BOOTSTRAP (Chamandy et al. 2012) — the resampling scheme that works
    on sharded data: instead of drawing N rows with replacement per
    replicate (needs global coordination), every (row, replicate) pair
    independently draws a Poisson(1) weight, and a replicate's total is
    the weighted sum. Weights come from md5(order, replicate) mapped
    through integer-scaled CDF thresholds (`_BOOT_THRESHOLDS`), so the
    resample is deterministic, reproducible under repartitioning, and
    bit-identical on both engines.

    Replicate id −1 carries weight 1 everywhere = the point estimate,
    so ONE scan produces point + all replicates: the per-row replicate
    fan-out feeds straight into a map-side-combined hash aggregate with
    B+1 groups — the shuffle moves (B+1) rows per task, never the
    (B+1)× row amplification. The CI is the rank-1 and rank-B order
    statistics of the B replicate totals (plotting positions 1/(B+1)
    and B/(B+1) — ~2.4% per tail at B=40, the 95% percentile CI),
    extracted with sort_array over a collected B-element list (bounded
    control plane, no global-sort window).

    100 TB: same plan — the scan dominates, the fan-out is codegen-local
    arithmetic, and the aggregate state is B+1 DECIMAL cells per task."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return _boot_summarize(_boot_totals(orders))


def _boot_totals(orders: DataFrame) -> DataFrame:
    """(b, total, n_rows) replicate totals from an (o_orderkey, cents)
    frame — the fan-out + draw + aggregate core, shared with the
    streamed fold. The hash is STAGED through columns (md5 prefix once
    per row, then the hex→int conversion, then the weight CASE over
    the integer) because inlining `hex_to_bigint_sql(md5…)` into the
    9-arm CASE evaluates the md5 15 × 9 = 135 times per row — codegen
    does not CSE across the textual copies (measured 137 s → ~1 s per
    task at sf0.1).

    The narrow (key, cents) rows are repartitioned BEFORE the fan-out
    with an EXPLICIT partition count: the orders fact arrives as few
    input splits locally (one 5 MB file = one task doing all B+1 × N
    hash draws, measured ~20 s at sf0.1), and a keys-only repartition
    gets AQE-coalesced right back to one partition because the
    pre-explode bytes are tiny — the fan-out cost AQE can't see is
    exactly why the explicit count is correct here. The shuffle moves
    only the pre-explode rows — B+1× cheaper than any post-fan-out
    exchange."""
    width = orders.sparkSession.sparkContext.defaultParallelism
    reps = orders.repartition(width, "o_orderkey").select(
        "o_orderkey",
        "cents",
        F.explode(
            F.array(*[F.lit(b) for b in range(-1, _BOOT_B)])
        ).alias("b"),
    )
    # plan_barrier after each stage: CollapseProject would otherwise
    # re-inline hx into the 15 hex->int terms and h into the 9 CASE
    # arms — right back to the 135 md5s the staging exists to avoid.
    staged = plan_barrier(
        plan_barrier(
            reps.withColumn(
                "hx",
                F.expr(
                    "substr(md5(concat('pboot:', CAST(o_orderkey AS"
                    " STRING), ':', CAST(b AS STRING))), 1, 15)"
                ),
            )
        ).withColumn(
            "h", F.expr(hex_to_bigint_sql("hx", width=_BOOT_HEX_W))
        )
    )
    w = f"(CASE WHEN b = -1 THEN 1 ELSE {_boot_weight_sql('h')} END)"
    return (
        staged.withColumn("wt", F.expr(w))
        .groupBy("b")
        .agg(
            F.expr("sum(CAST(wt AS DECIMAL(38,0)) * cents)").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


def _boot_summarize(totals: DataFrame) -> DataFrame:
    """Point estimate + order-statistic CI from the (b, total, n_rows)
    replicate-totals table — shared by the one-shot query and the
    streamed fold ([[stream_bootstrap_ci_fold]]), whose state IS this
    table because replicate totals are additive across batches. The
    sorted replicate list is built ONCE (one collect_list buffer), then
    both order statistics project out of it."""
    agg = totals.agg(
        F.max(F.when(F.col("b") == -1, F.col("n_rows")))
        .cast("bigint")
        .alias("n_orders"),
        F.max(F.when(F.col("b") == -1, F.col("total")))
        .cast("bigint")
        .alias("point_total_cents"),
        F.count(F.when(F.col("b") >= 0, 1)).cast("bigint").alias(
            "n_replicates"
        ),
        F.sort_array(
            F.collect_list(F.when(F.col("b") >= 0, F.col("total")))
        ).alias("sorted_totals"),
    )
    return agg.select(
        "n_orders",
        "point_total_cents",
        "n_replicates",
        F.element_at("sorted_totals", _BOOT_LO_RANK)
        .cast("bigint")
        .alias("boot_lo_cents"),
        F.element_at("sorted_totals", _BOOT_HI_RANK)
        .cast("bigint")
        .alias("boot_hi_cents"),
    )


def _poisson_bootstrap_sql() -> str:
    # staged like the Spark side: md5 once per row, then hex->int, then
    # the weight CASE over the integer (the 135x-md5 inlining trap)
    return f"""
    WITH reps AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(r.b AS BIGINT) AS b
        FROM orders, (SELECT unnest(range(-1, {_BOOT_B})) AS b) r
    ),
    staged AS (
        SELECT cents, b,
               substr(md5('pboot:' || CAST(o_orderkey AS VARCHAR)
                   || ':' || CAST(b AS VARCHAR)), 1, 15) AS hx
        FROM reps
    ),
    hashed AS (
        SELECT cents, b, {hex_to_bigint_sql("hx", width=_BOOT_HEX_W)} AS h
        FROM staged
    ),
    totals AS (
        SELECT b,
               sum(CAST(CASE WHEN b = -1 THEN 1
                        ELSE {_boot_weight_sql("h")} END AS HUGEINT)
                   * cents) AS total,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM hashed GROUP BY b
    )
    SELECT CAST(max(CASE WHEN b = -1 THEN n_rows END) AS BIGINT)
               AS n_orders,
           CAST(max(CASE WHEN b = -1 THEN total END) AS BIGINT)
               AS point_total_cents,
           CAST(count(*) FILTER (b >= 0) AS BIGINT) AS n_replicates,
           CAST(list_sort(list(total) FILTER (b >= 0))[{_BOOT_LO_RANK}]
               AS BIGINT) AS boot_lo_cents,
           CAST(list_sort(list(total) FILTER (b >= 0))[{_BOOT_HI_RANK}]
               AS BIGINT) AS boot_hi_cents
    FROM totals
"""


_POISSON_BOOTSTRAP_SQL = _poisson_bootstrap_sql()


# ---------------------------------------------------------------------------
# Bradley-Terry pairwise strengths (Zermelo fixed point)
# ---------------------------------------------------------------------------

_BT_ROUNDS = 8  # fixed-point iterations (fixed count = deterministic)
_BT_EPS = 1e-9  # floor after normalization; keeps p_i + p_j > 0


def _bt_games(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed game rows ``(l_orderkey, i, j, won)`` from the adjacent-
    lineitem brand matches — the corpus-sized half of Bradley-Terry,
    shared by the one-shot fit ([[bradley_terry_strengths]], which
    carries the match spec) and the incremental fold
    ([[bradley_terry_two_batch]], which splits batches on
    l_orderkey)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.col("p_brand").alias("brand"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    # (orderkey, linenumber) is NOT unique in this synthetic schema —
    # tie-break with (partkey, price) so the lag sequence (and thus the
    # match list) is a deterministic function of the data. Rows tying on
    # all four keys share brand AND price, so any residual permutation
    # cannot change a single match outcome.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "price"
    )
    m = (
        rows.select(
            "l_orderkey",
            "brand",
            "price",
            F.lag("brand").over(w).alias("prev_brand"),
            F.lag("price").over(w).alias("prev_price"),
        )
        .where(
            F.col("prev_brand").isNotNull()
            & (F.col("prev_brand") != F.col("brand"))
        )
    )
    winner = (
        F.when(F.col("price") > F.col("prev_price"), F.col("brand"))
        .when(F.col("price") < F.col("prev_price"), F.col("prev_brand"))
        .otherwise(F.least("brand", "prev_brand"))
    )
    loser = (
        F.when(F.col("price") > F.col("prev_price"), F.col("prev_brand"))
        .when(F.col("price") < F.col("prev_price"), F.col("brand"))
        .otherwise(F.greatest("brand", "prev_brand"))
    )
    matches = m.select(
        "l_orderkey", winner.alias("win"), loser.alias("lose")
    )
    return matches.select(
        "l_orderkey",
        F.col("win").alias("i"),
        F.col("lose").alias("j"),
        F.lit(1).alias("won"),
    ).unionAll(
        matches.select(
            "l_orderkey",
            F.col("lose").alias("i"),
            F.col("win").alias("j"),
            F.lit(0).alias("won"),
        )
    )


def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY strength fitting — the model behind preference/
    reward-data leaderboards (chatbot arenas, RLHF labeler dashboards):
    given pairwise outcomes, find strengths p_i with
    P(i beats j) = p_i/(p_i+p_j), by Zermelo's fixed point
    p_i ← W_i / Σ_j n_ij/(p_i+p_j), a fixed ``_BT_ROUNDS`` iterations.

    Matches here: adjacent lineitems of an order (lag over the order's
    linenumber sequence — ONE shuffle) pit their part BRANDS against
    each other; the higher extendedprice wins, price ties go to the
    lexicographically smaller brand, same-brand pairs are skipped.

    Scale shape: the corpus-sized work ends at the (winner, loser)
    groupBy — everything after runs on the ≤ |brands|² pair-count table
    (cut: each round would otherwise replay the full
    lineage). Per round, each denominator term n_ij/(p_i+p_j) is
    FLOORED to integer micro-units before the Σ_j sum and each updated
    strength re-floored before the normalization sum, so every
    cross-row reduction is an exact integer and the trailing float ops
    are identical literal expressions — deterministic to the bit on
    both engines despite 8 rounds of division chains. Strengths are
    floored at `_BT_EPS` post-normalization so an all-losses player
    cannot zero a later denominator."""
    pairs = (
        _bt_games(spark, sf_dir)
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("won").cast("bigint").alias("w"),
        )
    )
    return _bt_fit(pairs)


def _bt_fit(pairs: DataFrame) -> DataFrame:
    """Zermelo fixed point over a directed pair-count table
    ``(i, j, n, w)`` — the bounded, player²-sized half of Bradley-Terry
    (exactness discipline documented on [[bradley_terry_strengths]]).

    Runs DRIVER-SIDE over the collected pair counts (the
    [[markov_attribution]] idiom: the distributed phase ends at the
    ≤ |players|² aggregate; iterating 8 rounds of tiny joins as Spark
    jobs costs ~2 s of scheduler latency for zero parallelism). Every
    arithmetic step — per-term micro floor, exact integer Σ, the
    division chain, the `_BT_EPS` floor — is the same IEEE-double
    operation sequence the unrolled SQL oracle performs, so the
    strengths match it bit-for-bit; the result returns as a JVM
    LocalRelation (`local_df`)."""
    spark = pairs.sparkSession
    rows = [
        (r[0], r[1], int(r[2]), int(r[3]))
        for r in pairs.select("i", "j", "n", "w").collect()
    ]
    wins: dict[str, int] = {}
    n_games: dict[str, int] = {}
    for i, _j, n, w in rows:
        wins[i] = wins.get(i, 0) + w
        n_games[i] = n_games.get(i, 0) + n
    players = sorted(wins)
    npl = len(players)
    p = {i: 1.0 for i in players}
    mic = 1_000_000.0
    for _ in range(_BT_ROUNDS):
        dm = {i: 0 for i in players}
        for i, j, n, _w in rows:
            dm[i] += math.floor(mic * float(n) / (p[i] + p[j]))
        pm = {
            i: math.floor(mic * (mic * float(wins[i]) / float(dm[i])))
            for i in players
        }
        tot = sum(pm.values())
        p = {
            i: max(
                float(pm[i]) * float(npl) / float(tot), _BT_EPS
            )
            for i in players
        }
    out = [
        (i, wins[i], n_games[i], math.floor(mic * p[i])) for i in players
    ]
    return local_df(
        spark,
        out,
        "player STRING, wins BIGINT, n_games BIGINT, strength_micro BIGINT",
    )


def _bradley_terry_sql() -> str:
    mic = _dlit(1_000_000.0)
    ctes = f"""matches AS MATERIALIZED (
        SELECT CASE WHEN price > prev_price THEN brand
                    WHEN price < prev_price THEN prev_brand
                    ELSE least(brand, prev_brand) END AS win,
               CASE WHEN price > prev_price THEN prev_brand
                    WHEN price < prev_price THEN brand
                    ELSE greatest(brand, prev_brand) END AS lose
        FROM (
            SELECT p.p_brand AS brand,
                   CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price,
                   lag(p.p_brand) OVER w AS prev_brand,
                   lag(CAST(l.l_extendedprice AS DECIMAL(18,2))) OVER w
                       AS prev_price
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WINDOW w AS (PARTITION BY l.l_orderkey
                         ORDER BY l.l_linenumber, l.l_partkey,
                                  CAST(l.l_extendedprice AS DECIMAL(18,2)))
        )
        WHERE prev_brand IS NOT NULL AND prev_brand != brand
    ),
    pairs AS MATERIALIZED (
        SELECT i, j, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(won) AS BIGINT) AS w
        FROM (
            SELECT win AS i, lose AS j, 1 AS won FROM matches
            UNION ALL
            SELECT lose AS i, win AS j, 0 AS won FROM matches
        ) GROUP BY i, j
    ),
    players AS MATERIALIZED (
        SELECT i, CAST(sum(w) AS BIGINT) AS wins,
               CAST(sum(n) AS BIGINT) AS n_games
        FROM pairs GROUP BY i
    ),
    npl AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS npl FROM players),
    r0 AS MATERIALIZED (SELECT i, 1.0e0 AS p FROM players)"""
    for t in range(1, _BT_ROUNDS + 1):
        prev = f"r{t - 1}"
        ctes += f""",
    terms{t} AS MATERIALIZED (
        SELECT pairs.i,
               CAST(floor({mic} * CAST(pairs.n AS DOUBLE)
                    / (pi.p + pj.p)) AS BIGINT) AS term_micro
        FROM pairs
        JOIN {prev} pi ON pairs.i = pi.i
        JOIN {prev} pj ON pairs.j = pj.i
    ),
    praw{t} AS MATERIALIZED (
        SELECT players.i, CAST(floor({mic} * ({mic}
                    * CAST(players.wins AS DOUBLE)
                    / CAST(d.dm AS DOUBLE))) AS BIGINT) AS pm
        FROM players
        JOIN (SELECT i, sum(CAST(term_micro AS HUGEINT)) AS dm
              FROM terms{t} GROUP BY i) d ON players.i = d.i
    ),
    r{t} AS MATERIALIZED (
        SELECT i, greatest(CAST(pm AS DOUBLE) * CAST(npl.npl AS DOUBLE)
                   / CAST(t.tot AS DOUBLE), {_dlit(_BT_EPS)}) AS p
        FROM praw{t}
        CROSS JOIN (SELECT sum(CAST(pm AS HUGEINT)) AS tot FROM praw{t}) t
        CROSS JOIN npl
    )"""
    return f"""
    WITH {ctes}
    SELECT players.i AS player, wins, n_games,
           CAST(floor({mic} * p) AS BIGINT) AS strength_micro
    FROM players JOIN r{_BT_ROUNDS} USING (i)
"""


_BRADLEY_TERRY_SQL = _bradley_terry_sql()


def bradley_terry_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained BRADLEY-TERRY — the leaderboard shape
    preference data actually arrives in: match outcomes stream in over
    time, and the pair-count table (i, j, games, wins) is a pure
    commutative monoid, so new batches FOLD into the persisted counts
    (``operators.maintenance.merge_aggregate``, keys = (i, j),
    sum = wins, count = games) and the fit re-runs on the folded
    player²-sized state — match history is never re-scanned. Two
    l_orderkey-median batches here; the driver-checked convergence
    contract is the [[bm25_index_two_batch]] pattern taken one step
    further: the oracle is [[bradley_terry_strengths]]'s FULL one-shot
    SQL, so fold(b1) ⊕ fold(b2) must reproduce the one-shot fit's
    strengths bit-for-bit or the hash fails.

    Scale shape: per batch, one (i, j) shuffle over the BATCH only;
    the persisted state is ≤ |players|² rows however long the match
    history grows; the refit ([[_bt_fit]]) touches only that state."""
    import shutil
    import tempfile

    from ..operators.maintenance import merge_aggregate

    games = cut(_bt_games(spark, sf_dir))
    mid = games.agg(F.expr("percentile(l_orderkey, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="btpairs_")
    try:
        state = None
        for pred in (F.col("l_orderkey") <= mid, F.col("l_orderkey") > mid):
            state = merge_aggregate(
                spark,
                f"{tmp}/pairs",
                games.where(pred).select("i", "j", "won"),
                keys=["i", "j"],
                sums=["won"],
                count_col="n",
            )
        pairs = state.select(
            "i",
            "j",
            F.col("n").cast("bigint").alias("n"),
            F.col("won").cast("bigint").alias("w"),
        )
        return cut(_bt_fit(pairs))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# pass@k (unbiased combinatorial estimator, HumanEval)
# ---------------------------------------------------------------------------

_PASSK_KS = (1, 2, 3, 5)  # k values reported
# Harness cap: at most this many attempts counted per task (the same
# bounded-n shape HumanEval-style rollups publish; rows beyond the cap
# exist in this synthetic schema — least() keeps the estimator total
# regardless of how attempt-heavy a task gets at bigger SFs).
_PASSK_CAP = 20
# per-k common denominator M_k = lcm{C(n, min(k, n)) : n <= cap}:
# each task's fraction (C(n-c,k')/C(n,k')) scales to an EXACT integer
# v = M_k - M_k*num/den, so the cross-task mean is one integer sum.
# Max intermediate (M_k/den)*num <= 7.3e11 at cap 20 — inside int64.
_PASSK_M = {
    k: math.lcm(*[math.comb(n, min(k, n)) for n in range(1, _PASSK_CAP + 1)])
    for k in _PASSK_KS
}


def _comb_sql(a: str, b: str, idiv: str) -> str:
    """C(a, b) for a >= 0 and b <= 5 as closed-form SQL: the falling
    factorial a(a−1)…(a−b+1) is always divisible by b!, and for a < b
    one factor is 0 (a zero factor always precedes any negative one,
    so the product is never negative and the two engines' integer-div
    semantics agree) — one integer product + one exact division covers
    every case, no lookup table, no bound on a. (b here is min(k, n)
    <= 5 by construction.) ``idiv`` is the engine's integer-division
    operator — 'div' on Spark, '//' on DuckDB (the one token the
    otherwise-shared text differs in)."""
    arms = []
    for bv in range(6):
        if bv == 0:
            arms.append("WHEN 0 THEN CAST(1 AS BIGINT)")
            continue
        prod = " * ".join(
            f"CAST(({a}) - {i} AS BIGINT)" for i in range(bv)
        )
        arms.append(
            f"WHEN {bv} THEN (({prod}) {idiv} {math.factorial(bv)})"
        )
    return f"(CASE {b} {' '.join(arms)} ELSE 0 END)"


def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the UNBIASED estimator from the HumanEval paper (Chen et
    al. 2021, eq. 1): for a task with n attempts of which c are correct,
    the chance a random size-k subset contains a correct attempt is
    1 − C(n−c,k)/C(n,k); pass@k is the mean over tasks (k capped at n
    per task). The frame here: each order is a task, its lineitems are
    attempts, an attempt "passes" iff l_discount ≥ 0.05 — the same
    shape an eval harness aggregates (task_id, n_samples, n_correct)
    rollups with.

    Exactness: the naive per-task division is irrational-free but
    truncates; instead each task's miss-probability scales by the
    per-k common denominator M_k = lcm{C(n,k') : n ≤ cap} (module
    constant), so v = M_k − M_k·C(n−c,k′)/C(n,k′) is an EXACT integer
    (den | M_k) and the cross-task mean is one integer sum with a
    single final floor. Binomials are shared closed-form falling-
    factorial text (`_comb_sql` — k′ ≤ 5, so b! ≤ 120 divides exactly);
    attempt counts are capped at `_PASSK_CAP` per task. The cap is a
    COUNT cap, not an attempt-order truncation: n = min(count, cap) and
    c = min(c, n) — there is no ordering among a task's attempts, and
    both engines apply the identical clamp, so values agree by
    construction (hit by <0.1% of tasks).

    Scale: one lineitem→order groupBy (map-side combined) builds
    (n, c); the k fan-out is a 4-row broadcast; the final agg is 4
    groups. Nothing else moves."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_discount").cast("decimal(12,2)") >= 0.05).alias("ok"),
    )
    tasks = li.groupBy("l_orderkey").agg(
        F.expr(f"CAST(least(count(*), {_PASSK_CAP}) AS INT)").alias("n"),
        F.expr(
            "CAST(least(sum(CASE WHEN ok THEN 1 ELSE 0 END),"
            f" least(count(*), {_PASSK_CAP})) AS INT)"
        ).alias("c"),
    )
    ks = local_df(
        spark,
        [(k, _PASSK_M[k]) for k in _PASSK_KS],
        "k BIGINT, m BIGINT",
    )
    kk = "CAST(least(k, CAST(n AS BIGINT)) AS INT)"
    den = _comb_sql("n", kk, "div")
    num = _comb_sql("(n - c)", kk, "div")
    v = f"(m - (m div {den}) * {num})"
    fanned = tasks.crossJoin(F.broadcast(ks)).withColumn(
        "v", F.expr(v).cast("bigint")
    )
    return (
        fanned.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
            F.expr("sum(CAST(v AS DECIMAL(38,0)))").alias("sv"),
            F.max("m").alias("m"),
        )
        .select(
            "k",
            "n_tasks",
            F.expr(
                "CAST((1000000 * sv) div (CAST(n_tasks AS DECIMAL(38,0))"
                " * m) AS BIGINT)"
            ).alias("pass_at_k_micro"),
        )
        .orderBy("k")
    )


def _pass_at_k_sql() -> str:
    kk = "CAST(least(k, CAST(n AS BIGINT)) AS INT)"
    den = _comb_sql("n", kk, "//")
    num = _comb_sql("(n - c)", kk, "//")
    vals = ", ".join(f"({k}, {_PASSK_M[k]})" for k in _PASSK_KS)
    return f"""
    WITH tasks AS (
        SELECT l_orderkey,
               CAST(least(count(*), {_PASSK_CAP}) AS INT) AS n,
               CAST(least(sum(CASE WHEN CAST(l_discount AS DECIMAL(12,2))
                                   >= 0.05 THEN 1 ELSE 0 END),
                          least(count(*), {_PASSK_CAP})) AS INT) AS c
        FROM lineitem GROUP BY l_orderkey
    ),
    ks(k, m) AS (SELECT CAST(k AS BIGINT), CAST(m AS BIGINT)
                 FROM (VALUES {vals}) t(k, m)),
    fanned AS (
        SELECT k, m,
               CAST((m - (m // {den}) * {num}) AS BIGINT) AS v
        FROM tasks CROSS JOIN ks
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
           CAST((1000000 * sum(CAST(v AS HUGEINT)))
                // (CAST(count(*) AS HUGEINT) * max(m)) AS BIGINT)
               AS pass_at_k_micro
    FROM fanned
    GROUP BY k
    ORDER BY k
"""


_PASS_AT_K_SQL = _pass_at_k_sql()


# ---------------------------------------------------------------------------
# Cohen's kappa (inter-rater agreement)
# ---------------------------------------------------------------------------

# rater A: document length terciles; rater B: type-token-ratio terciles
# (fixed SPEC thresholds — sf0.01 terciles, pinned so the contingency
# table is a pure function of the row, not of the corpus)
_KAPPA_LEN_CUTS = (220, 380)
_KAPPA_TTR_CUTS = (400, 560)
_KAPPA_WS = r"\s+"


def interrater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two heuristic quality raters over the
    document corpus — the chance-corrected agreement measure every
    labeling pipeline reports before treating two annotators (or two
    cheap classifiers) as interchangeable. Rater A buckets documents by
    length terciles, rater B by type-token-ratio terciles (both fixed
    spec thresholds, so each rating is a pure per-row function); kappa =
    (p_o − p_e)/(1 − p_e) over the 3×3 contingency table.

    Exactness: with N docs, diagonal count D, and marginal product sum
    P = Σ_k row_k·col_k, kappa = (N·D − P)/(N² − P) — entirely integer
    until one final floor to micro-units. Wide products ride
    DECIMAL(38,0)/HUGEINT (N² passes int64 at 100 TB doc counts).

    Scale: one corpus scan → 9-cell contingency aggregate (map-side
    combined); marginals and the kappa arithmetic run on those 9 rows."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn(
            "toks", F.split(F.trim(F.lower(F.col("text"))), _KAPPA_WS)
        )
        .select(
            "n_chars",
            F.expr(
                "CAST(1000 * size(array_distinct(toks))"
                " div size(toks) AS BIGINT)"
            ).alias("ttr"),
        )
    )
    ra = (
        F.when(F.col("n_chars") < _KAPPA_LEN_CUTS[0], 0)
        .when(F.col("n_chars") < _KAPPA_LEN_CUTS[1], 1)
        .otherwise(2)
    )
    rb = (
        F.when(F.col("ttr") < _KAPPA_TTR_CUTS[0], 0)
        .when(F.col("ttr") < _KAPPA_TTR_CUTS[1], 1)
        .otherwise(2)
    )
    cells = docs.select(ra.alias("ra"), rb.alias("rb")).groupBy(
        "ra", "rb"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    rows_m = cells.groupBy("ra").agg(F.sum("cnt").alias("row_n"))
    cols_m = cells.groupBy("rb").agg(F.sum("cnt").alias("col_n"))
    pe = (
        rows_m.join(cols_m, rows_m.ra == cols_m.rb)
        .agg(
            F.expr(
                "sum(CAST(row_n AS DECIMAL(38,0)) * col_n)"
            ).alias("p")
        )
    )
    base = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("cnt")))
        .cast("bigint")
        .alias("d"),
    )
    return base.crossJoin(F.broadcast(pe)).select(
        F.col("n").alias("n_docs"),
        F.col("d").alias("agree_n"),
        F.expr(
            "CAST((1000000 * (CAST(n AS DECIMAL(38,0)) * d - p))"
            " div (CAST(n AS DECIMAL(38,0)) * n - p) AS BIGINT)"
        ).alias("kappa_micro"),
    )


def _kappa_sql() -> str:
    return f"""
    WITH docs AS (
        SELECT n_chars,
               1000 * len(list_distinct(regexp_split_to_array(
                       trim(lower(text)), '{_KAPPA_WS}')))
                   // len(regexp_split_to_array(trim(lower(text)),
                       '{_KAPPA_WS}')) AS ttr
        FROM documents
    ),
    rated AS (
        SELECT CASE WHEN n_chars < {_KAPPA_LEN_CUTS[0]} THEN 0
                    WHEN n_chars < {_KAPPA_LEN_CUTS[1]} THEN 1
                    ELSE 2 END AS ra,
               CASE WHEN ttr < {_KAPPA_TTR_CUTS[0]} THEN 0
                    WHEN ttr < {_KAPPA_TTR_CUTS[1]} THEN 1
                    ELSE 2 END AS rb
        FROM docs
    ),
    cells AS (
        SELECT ra, rb, CAST(count(*) AS BIGINT) AS cnt
        FROM rated GROUP BY ra, rb
    ),
    pe AS (
        SELECT sum(CAST(r.row_n AS HUGEINT) * c.col_n) AS p
        FROM (SELECT ra, sum(cnt) AS row_n FROM cells GROUP BY ra) r
        JOIN (SELECT rb, sum(cnt) AS col_n FROM cells GROUP BY rb) c
          ON r.ra = c.rb
    ),
    base AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ra = rb THEN cnt END) AS BIGINT) AS d
        FROM cells
    )
    SELECT n AS n_docs, d AS agree_n,
           CAST((1000000 * (CAST(n AS HUGEINT) * d - p))
                // (CAST(n AS HUGEINT) * n - p) AS BIGINT) AS kappa_micro
    FROM base CROSS JOIN pe
"""


_KAPPA_SQL = _kappa_sql()


# ---------------------------------------------------------------------------
# jackknife leave-one-source-out influence
# ---------------------------------------------------------------------------


def jackknife_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-SOURCE-OUT jackknife over the corpus quality mean — the
    data-attribution question every mixture owner asks: "how much does
    each source move my headline quality metric?" With per-doc quality
    q (type-token ratio in permille, the [[interrater_kappa]] rater-B
    signal), the influence of source s on the mean is
    μ − μ₋ₛ = (S·(N−n_s) − N·(S−s_s)) / (N·(N−n_s)) — pure algebra over
    the per-source (n_s, s_s) totals and the global (N, S), so the
    whole jackknife costs ONE corpus scan + a |sources|-row join, never
    a per-source re-scan (the textbook O(sources × corpus) trap).

    Exactness: all-integer until one final floor; products through
    DECIMAL(38,0)/HUGEINT since N² overflows int64 at 100 TB corpus
    counts. Influence is in micro-permille; positive = the source
    pulls the mean UP (dropping it would lower quality)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn(
            "toks", F.split(F.trim(F.lower(F.col("text"))), _KAPPA_WS)
        )
        .select(
            "source",
            F.expr(
                "CAST(1000 * size(array_distinct(toks))"
                " div size(toks) AS BIGINT)"
            ).alias("q"),
        )
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("q").cast("bigint").alias("sum_q"),
    )
    glob = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("tn"),
        F.sum("sum_q").cast("bigint").alias("ts"),
    )
    return (
        per_src.crossJoin(F.broadcast(glob))
        .select(
            "source",
            "n_docs",
            F.expr(
                "CAST((1000 * CAST(ts - sum_q AS DECIMAL(38,0)))"
                " div (tn - n_docs) AS BIGINT)"
            ).alias("loo_mean_millipermille"),
            F.expr(
                "CAST((1000000 * (CAST(ts AS DECIMAL(38,0)) * (tn - n_docs)"
                " - CAST(tn AS DECIMAL(38,0)) * (ts - sum_q)))"
                " div (CAST(tn AS DECIMAL(38,0)) * (tn - n_docs))"
                " AS BIGINT)"
            ).alias("influence_micro"),
        )
        .orderBy("source")
    )


def _jackknife_sql() -> str:
    return f"""
    WITH docs AS (
        SELECT source,
               1000 * len(list_distinct(regexp_split_to_array(
                       trim(lower(text)), '{_KAPPA_WS}')))
                   // len(regexp_split_to_array(trim(lower(text)),
                       '{_KAPPA_WS}')) AS q
        FROM documents
    ),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(q) AS BIGINT) AS sum_q
        FROM docs GROUP BY source
    ),
    gl AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
               CAST(sum(sum_q) AS BIGINT) AS ts
        FROM per_src
    )
    SELECT source, n_docs,
           CAST((1000 * CAST(ts - sum_q AS HUGEINT)) // (tn - n_docs)
               AS BIGINT) AS loo_mean_millipermille,
           CAST((1000000 * (CAST(ts AS HUGEINT) * (tn - n_docs)
                - CAST(tn AS HUGEINT) * (ts - sum_q)))
                // (CAST(tn AS HUGEINT) * (tn - n_docs)) AS BIGINT)
               AS influence_micro
    FROM per_src CROSS JOIN gl
    ORDER BY source
"""


_JACKKNIFE_SQL = _jackknife_sql()


# ---------------------------------------------------------------------------
# split-conformal prediction interval + coverage audit
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 1, 10  # alpha = 0.1 -> 90% intervals
_CONF_RANGES = 16  # range partitions for the score prefix sum


def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals (Vovk; Lei et al. 2018) —
    the distribution-free uncertainty wrapper production ML serves
    point predictions with: calibrate a nonconformity quantile on a
    held-out split, then ANY future prediction ± that quantile covers
    the truth with probability ≥ 1−α, no model assumptions. The model
    here is the simplest honest one (per-priority mean order value,
    fit on the calibration split); the operator's value is the
    distributed EXACT quantile + the coverage audit, which transfer to
    any model's score column.

    Mechanics: md5-parity split; nonconformity s = |y − ŷ| in exact
    cents; the conformal quantile is the ⌈(n_cal+1)(1−α)⌉-th smallest
    calibration score — an exact ORDER STATISTIC, computed at the
    distinct-score grain with the two-phase distributed prefix sum
    (range-repartition → partition-local cumsum → triangular-join
    offsets, the [[ks_two_sample]] idiom — no single-partition window,
    no sort of raw rows). Eval-split coverage at that radius is then
    one conditional count; split-conformal theory guarantees
    coverage ≥ 900‰ in expectation, which the pytest asserts.

    All-integer end to end: cents scores, ceil via integer arithmetic,
    coverage in permille by integer division.

    Precondition: n_cal ≥ alpha_den (= 10), i.e. at least 10
    calibration rows. Below that, k = ⌈(1−α)(n_cal+1)⌉ can exceed
    n_cal, no score satisfies the rank filter, and the two engines'
    shapes diverge (Spark's global agg emits one all-NULL row; the
    oracle's GROUP BY emits zero rows). Unreachable at any benched SF
    — n_cal is in the thousands even at sf0.001 — but callers feeding
    pathological inputs must respect it alongside the ≥ 1−α coverage
    guarantee."""
    from .mlprep import _prefix_offsets

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (
            F.expr("CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 1),"
                   " 16, 10) AS INT) % 2 = 0")
        ).alias("is_cal"),
    )
    means = (
        orders.where("is_cal")
        .groupBy("o_orderpriority")
        .agg(F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("yhat"))
    )
    scored = orders.join(F.broadcast(means), "o_orderpriority").select(
        "is_cal", F.expr("abs(cents - yhat)").alias("s")
    )
    cal = scored.where("is_cal")
    grain = cal.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ranged = cut(
        grain.repartitionByRange(_CONF_RANGES, "s")
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = ranged.withColumn("lc", F.sum("cnt").over(w))
    totals = ranged.groupBy("pid").agg(F.sum("cnt").alias("ptot"))
    offs = _prefix_offsets(totals, "ptot")
    nk = cal.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr(
            f"CAST(({_CONF_ALPHA_DEN - _CONF_ALPHA_NUM} * (count(*) + 1)"
            f" + {_CONF_ALPHA_DEN - 1}) div {_CONF_ALPHA_DEN} AS BIGINT)"
        ).alias("k"),
    )
    q = (
        staged.join(F.broadcast(offs), "pid")
        .crossJoin(F.broadcast(nk))
        .where(F.col("offset") + F.col("lc") >= F.col("k"))
        .groupBy("n_cal", "k")
        .agg(F.min("s").cast("bigint").alias("q_cents"))
    )
    ev = scored.where(~F.col("is_cal")).crossJoin(F.broadcast(q)).agg(
        F.max("n_cal").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.max("q_cents").alias("q_cents"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN s <= q_cents THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("coverage_permille"),
    )
    return ev


def _conformal_sql() -> str:
    kd = _CONF_ALPHA_DEN
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(instr('0123456789abcdef',
                    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1
                    AS INT) % 2 = 0 AS is_cal
        FROM orders
    ),
    means AS (
        SELECT o_orderpriority,
               CAST(sum(cents) // count(*) AS BIGINT) AS yhat
        FROM o WHERE is_cal GROUP BY o_orderpriority
    ),
    scored AS (
        SELECT is_cal, abs(cents - yhat) AS s
        FROM o JOIN means USING (o_orderpriority)
    ),
    cum AS (
        SELECT s, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(count(*)) OVER (ORDER BY s) AS BIGINT) AS rc
        FROM scored WHERE is_cal GROUP BY s
    ),
    nk AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cal,
               CAST(({kd - _CONF_ALPHA_NUM} * (count(*) + 1) + {kd - 1})
                    // {kd} AS BIGINT) AS k
        FROM scored WHERE is_cal
    ),
    q AS (
        SELECT nk.n_cal, CAST(min(s) AS BIGINT) AS q_cents
        FROM cum CROSS JOIN nk WHERE rc >= nk.k GROUP BY nk.n_cal
    )
    SELECT q.n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           q.q_cents,
           CAST(1000 * sum(CASE WHEN s <= q.q_cents THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS coverage_permille
    FROM scored CROSS JOIN q
    WHERE NOT is_cal
    GROUP BY q.n_cal, q.q_cents
"""


_CONFORMAL_SQL = _conformal_sql()


# ---------------------------------------------------------------------------
# A/B test power analysis (minimum detectable effect)
# ---------------------------------------------------------------------------

# two-sided alpha = 0.05, power = 0.80 — the default every platform ships
_Z_ALPHA = 1.959963984540054  # Phi^-1(0.975)
_Z_BETA = 0.8416212335729143  # Phi^-1(0.80)


def power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B TEST POWER ANALYSIS — the pre-experiment sizing every
    experimentation platform runs before committing traffic: with the
    unit metric's variance σ² estimated from history and n units per
    arm, the minimum detectable effect at two-sided α=0.05 / power 0.80
    is MDE = (z_{α/2} + z_β)·σ·√(2/n). Completes the experimentation
    stack around [[cuped_variance_reduction]] (which shrinks the σ this
    reads), [[did_revenue_effect]], [[permutation_test_discount]], and
    [[poisson_bootstrap_ci]].

    Unit = customer, metric = total historical spend in cents; a
    hypothetical 50/50 md5-parity assignment sizes the arms. Exact
    DECIMAL(38,0) moment sums in ONE map-side-combined aggregate row
    (the CUPED discipline); the z constants are spec literals and the
    trailing float chain (int→double, sqrt, multiply) is identical
    text on both engines — sqrt is IEEE-correctly-rounded, no libm
    variance — so even the derived MDE hash-matches bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    units = orders.groupBy("o_custkey").agg(
        F.sum("cents").cast("bigint").alias("y")
    )
    m = units.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
        F.expr(
            "CAST(sum(CASE WHEN CAST(conv(substr(md5(CAST(o_custkey"
            " AS STRING)), 1, 1), 16, 10) AS INT) % 2 = 0 THEN 1"
            " ELSE 0 END) AS BIGINT)"
        ).alias("n_arm"),
    )
    var = (
        "((CAST(n_units AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n_units AS DOUBLE) * (CAST(n_units AS DOUBLE)"
        f" - {_dlit(1.0)})))"
    )
    mde = (
        f"(({_dlit(_Z_ALPHA)} + {_dlit(_Z_BETA)}) * sqrt({var})"
        f" * sqrt({_dlit(2.0)} / CAST(n_arm AS DOUBLE)))"
    )
    return m.select(
        "n_units",
        "n_arm",
        F.expr("CAST(sy div n_units AS BIGINT)").alias("mean_cents"),
        F.expr(f"CAST(floor(sqrt({var})) AS BIGINT)").alias("sd_cents"),
        F.expr(f"CAST(floor({mde}) AS BIGINT)").alias("mde_cents"),
        F.expr(
            f"CAST(floor({_dlit(1_000_000.0)} * {mde}"
            " / (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("mde_rel_micro"),
    )


def _power_mde_sql() -> str:
    var = (
        "((CAST(n_units AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n_units AS DOUBLE) * (CAST(n_units AS DOUBLE)"
        f" - {_dlit(1.0)})))"
    )
    mde = (
        f"(({_dlit(_Z_ALPHA)} + {_dlit(_Z_BETA)}) * sqrt({var})"
        f" * sqrt({_dlit(2.0)} / CAST(n_arm AS DOUBLE)))"
    )
    return f"""
    WITH units AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_units,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               CAST(sum(CASE WHEN CAST(instr('0123456789abcdef',
                    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1
                    AS INT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_arm
        FROM units
    )
    SELECT n_units, n_arm,
           CAST(sy // n_units AS BIGINT) AS mean_cents,
           CAST(floor(sqrt({var})) AS BIGINT) AS sd_cents,
           CAST(floor({mde}) AS BIGINT) AS mde_cents,
           CAST(floor({_dlit(1_000_000.0)} * {mde}
                / (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
                AS BIGINT) AS mde_rel_micro
    FROM m
"""


_POWER_MDE_SQL = _power_mde_sql()


# ---------------------------------------------------------------------------
# isotonic regression (exact PAV via the minimax characterization)
# ---------------------------------------------------------------------------

_ISO_BUCKET = 10_000  # price bucket width -> ~50 score positions
_ISO_POS_LABELS = ("1-URGENT", "2-HIGH")


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ISOTONIC REGRESSION (pool-adjacent-violators fit) of the
    urgent/high-priority rate against the order-value bucket — the
    nonparametric monotone calibrator production ML uses where
    [[calibration_bins]] only diagnoses (Zadrozny & Elkan 2002; Spark
    MLlib ships an approximate parallel PAV — this is the exact fit).

    The trick that makes exact PAV distributed AND oracle-able: the
    PAV solution has the closed-form MINIMAX characterization
    iso(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) (Robertson-Wright-
    Dykstra 1988, eq. 1.9–1.13) — no sequential merge loop. The corpus
    collapses to the ≤ ~50-row score-position grain in ONE map-side-
    combined groupBy; interval means come from prefix sums built by a
    triangular self-join on that tiny grain (no single-partition
    window), and the nested min/max runs over the ≤ P³ (i, j, k)
    enumeration — control-plane-sized however big the fact table is.

    Exactness: interval means are FLOORED to integer micro-units
    (integer div of exact sums). floor is monotone, and monotone maps
    commute with min and max — so max_j min_k floor(mean) equals
    floor(max_j min_k mean) EXACTLY: the published micro-unit fit is
    the floored true PAV solution, not an approximation of it."""
    orders = load_table(spark, sf_dir, "orders")
    pos_grain = cut(
        orders.select(
            F.expr(
                "CAST(CAST(floor(o_totalprice) AS BIGINT)"
                f" div {_ISO_BUCKET} AS BIGINT)"
            ).alias("pos"),
            F.col("o_orderpriority").isin(*_ISO_POS_LABELS)
            .cast("bigint")
            .alias("y"),
        )
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("s"),
        )
    )
    # everything below runs on the <= ~50-row grain: triangular joins,
    # never a window, never corpus-sized data
    js = pos_grain.select(F.col("pos").alias("j"))
    ks = pos_grain.select(F.col("pos").alias("k"))
    iv = (
        js.join(F.broadcast(ks), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(pos_grain),
            (F.col("pos") >= F.col("j")) & (F.col("pos") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            F.expr(
                "CAST((1000000 * CAST(sum(s) AS DECIMAL(38,0)))"
                " div sum(n) AS BIGINT)"
            ).alias("mean_micro")
        )
    )
    cand = (
        pos_grain.select(F.col("pos").alias("i"))
        .join(
            F.broadcast(iv),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("mean_micro").alias("mink"))
        .groupBy("i")
        .agg(F.max("mink").cast("bigint").alias("iso_micro"))
    )
    return (
        pos_grain.join(cand, pos_grain.pos == cand.i)
        .select(
            "pos",
            "n",
            F.expr(
                "CAST((1000000 * CAST(s AS DECIMAL(38,0))) div n"
                " AS BIGINT)"
            ).alias("rate_micro"),
            "iso_micro",
        )
        .orderBy("pos")
    )


_ISOTONIC_SQL = f"""
    WITH grain AS (
        SELECT CAST(CAST(floor(o_totalprice) AS BIGINT) // {_ISO_BUCKET}
                    AS BIGINT) AS pos,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM orders GROUP BY 1
    ),
    iv AS (
        SELECT j.pos AS j, k.pos AS k,
               CAST((1000000 * sum(CAST(g.s AS HUGEINT))) // sum(g.n)
                    AS BIGINT) AS mean_micro
        FROM grain j
        JOIN grain k ON j.pos <= k.pos
        JOIN grain g ON g.pos >= j.pos AND g.pos <= k.pos
        GROUP BY j.pos, k.pos
    ),
    cand AS (
        SELECT i, CAST(max(mink) AS BIGINT) AS iso_micro
        FROM (
            SELECT g.pos AS i, iv.j, min(iv.mean_micro) AS mink
            FROM grain g
            JOIN iv ON iv.j <= g.pos AND iv.k >= g.pos
            GROUP BY g.pos, iv.j
        )
        GROUP BY i
    )
    SELECT grain.pos, grain.n,
           CAST((1000000 * CAST(grain.s AS HUGEINT)) // grain.n
                AS BIGINT) AS rate_micro,
           cand.iso_micro
    FROM grain JOIN cand ON grain.pos = cand.i
    ORDER BY grain.pos
"""


# ---------------------------------------------------------------------------
# delta-method CI for a ratio-of-sums metric
# ---------------------------------------------------------------------------


def delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD confidence interval for a RATIO metric — the other
    standard answer (beside [[poisson_bootstrap_ci]]'s resampling) to
    "my metric is revenue-per-order but my randomization unit is the
    customer": R = ΣX/ΣY over units is NOT a mean of iid terms, so the
    naive t-interval is wrong; the delta method gives
    Var(R) ≈ (s_x² − 2R·s_xy + R²·s_y²) / (n·ȳ²) (Deng-Knoblich-Lu
    2018, the formula every experimentation platform applies to ratio
    metrics). X = a customer's revenue cents, Y = their order count.

    Shape: the cuped/power discipline — per-unit (X, Y) from one
    customer-key shuffle, then ONE map-side-combined aggregate row of
    exact DECIMAL(38,0) moments (n, Sx, Sy, Sxx, Sxy, Syy); the
    trailing float chain is identical literal text on both engines
    (sqrt is IEEE-exact), so ratio, SE, and the z-interval bounds all
    hash-match in micro-cents."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    units = orders.groupBy("o_custkey").agg(
        F.sum("cents").cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    m = units.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    nn = "CAST(n AS DOUBLE)"
    r = "(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))"
    vx = f"(({nn} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    vy = f"(({nn} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    cxy = f"(({nn} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    ybar = f"(CAST(sy AS DOUBLE) / {nn})"
    se = (
        f"sqrt(({vx} - {_dlit(2.0)} * {r} * {cxy}"
        f" + {r} * {r} * {vy}) / ({nn} * {ybar} * {ybar}))"
    )
    z = _dlit(_Z_ALPHA)
    return m.select(
        "n",
        F.expr(f"CAST(floor({_dlit(1_000_000.0)} * {r}) AS BIGINT)").alias(
            "ratio_microcents"
        ),
        F.expr(f"CAST(floor({_dlit(1_000_000.0)} * {se}) AS BIGINT)").alias(
            "se_microcents"
        ),
        F.expr(
            f"CAST(floor({_dlit(1_000_000.0)} * ({r} - {z} * {se}))"
            " AS BIGINT)"
        ).alias("ci_lo_microcents"),
        F.expr(
            f"CAST(floor({_dlit(1_000_000.0)} * ({r} + {z} * {se}))"
            " AS BIGINT)"
        ).alias("ci_hi_microcents"),
    )


def _delta_ratio_sql() -> str:
    nn = "CAST(n AS DOUBLE)"
    r = "(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))"
    vx = f"(({nn} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    vy = f"(({nn} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    cxy = f"(({nn} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / ({nn} * ({nn} - {_dlit(1.0)})))"
    ybar = f"(CAST(sy AS DOUBLE) / {nn})"
    se = (
        f"sqrt(({vx} - {_dlit(2.0)} * {r} * {cxy}"
        f" + {r} * {r} * {vy}) / ({nn} * {ybar} * {ybar}))"
    )
    z = _dlit(_Z_ALPHA)
    return f"""
    WITH units AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM units
    )
    SELECT n,
           CAST(floor({_dlit(1_000_000.0)} * {r}) AS BIGINT)
               AS ratio_microcents,
           CAST(floor({_dlit(1_000_000.0)} * {se}) AS BIGINT)
               AS se_microcents,
           CAST(floor({_dlit(1_000_000.0)} * ({r} - {z} * {se}))
               AS BIGINT) AS ci_lo_microcents,
           CAST(floor({_dlit(1_000_000.0)} * ({r} + {z} * {se}))
               AS BIGINT) AS ci_hi_microcents
    FROM m
"""


_DELTA_RATIO_SQL = _delta_ratio_sql()


# ---------------------------------------------------------------------------
# empirical-Bayes shrinkage of per-entity rates
# ---------------------------------------------------------------------------

_EB_TAU_FLOOR = 1e-12  # prior-variance floor (keeps M finite/positive)


def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES (beta-binomial, method-of-moments) shrinkage of
    per-supplier return rates — the estimator every leaderboard /
    seller-quality dashboard needs so a supplier with 3 returns out of
    5 items doesn't outrank one with 300 of 600 (Efron-Morris;
    [[return_rate_wilson]] bounds ONE rate, this POOLS across the
    population): raw rates shrink toward the global mean m with prior
    strength M, shrunk = (k + M·m)/(n + M), where
    M = m(1−m)/τ² − 1 and τ² is the between-supplier rate variance
    minus the mean binomial sampling noise (the MoM prior fit).

    Exactness: per-supplier raw rates and sampling-noise terms are
    FLOORED to integer micro/pico units before the population sums
    (the order-free-sum discipline — summing raw doubles is partition-
    order dependent), so the prior parameters derive from exact
    integers through identical IEEE text; τ² floors at `_EB_TAU_FLOOR`
    and M clamps to [0, 1e9] with shared greatest/least literals.

    Scale: one supplier-key shuffle builds (n, k); the prior fit is ONE
    map-side-combined aggregate row broadcast back. |suppliers| rows
    out."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", (F.col("l_returnflag") == "R").cast("bigint").alias("r")
    )
    ent = cut(
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r").cast("bigint").alias("k"),
        )
        .withColumn(
            "rate_micro", F.expr("CAST((1000000 * k) div n AS BIGINT)")
        )
        .withColumn(
            "noise_pico",
            F.expr(
                f"CAST(floor({_dlit(1e12)} * ((CAST(rate_micro AS DOUBLE)"
                f" * {_dlit(1e-6)}) * ({_dlit(1.0)} - CAST(rate_micro"
                f" AS DOUBLE) * {_dlit(1e-6)})) / CAST(n AS DOUBLE))"
                " AS BIGINT)"
            ),
        )
    )
    prior = ent.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.expr("sum(CAST(n AS DECIMAL(38,0)))").alias("tn"),
        F.expr("sum(CAST(k AS DECIMAL(38,0)))").alias("tk"),
        F.expr("sum(CAST(rate_micro AS DECIMAL(38,0)))").alias("sr"),
        F.expr(
            "sum(CAST(rate_micro AS DECIMAL(38,0)) * rate_micro)"
        ).alias("srr"),
        F.expr("sum(CAST(noise_pico AS DECIMAL(38,0)))").alias("sw"),
    )
    g = "CAST(g AS DOUBLE)"
    m = "(CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))"
    var_r = (
        f"((CAST(srr AS DOUBLE) / {g}"
        f" - (CAST(sr AS DOUBLE) / {g}) * (CAST(sr AS DOUBLE) / {g}))"
        f" * {_dlit(1e-12)})"
    )
    tau2 = (
        f"greatest({var_r} - CAST(sw AS DOUBLE) * {_dlit(1e-12)} / {g},"
        f" {_dlit(_EB_TAU_FLOOR)})"
    )
    mm = (
        f"least(greatest({m} * ({_dlit(1.0)} - {m}) / {tau2}"
        f" - {_dlit(1.0)}, {_dlit(0.0)}), {_dlit(1e9)})"
    )
    return (
        ent.crossJoin(F.broadcast(prior))
        .select(
            "l_suppkey",
            "n",
            "k",
            "rate_micro",
            F.expr(
                f"CAST(floor({_dlit(1_000_000.0)}"
                f" * (CAST(k AS DOUBLE) + {mm} * {m})"
                f" / (CAST(n AS DOUBLE) + {mm})) AS BIGINT)"
            ).alias("shrunk_micro"),
        )
        .orderBy("l_suppkey")
    )


def _eb_sql() -> str:
    g = "CAST(g AS DOUBLE)"
    m = "(CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))"
    var_r = (
        f"((CAST(srr AS DOUBLE) / {g}"
        f" - (CAST(sr AS DOUBLE) / {g}) * (CAST(sr AS DOUBLE) / {g}))"
        f" * {_dlit(1e-12)})"
    )
    tau2 = (
        f"greatest({var_r} - CAST(sw AS DOUBLE) * {_dlit(1e-12)} / {g},"
        f" {_dlit(_EB_TAU_FLOOR)})"
    )
    mm = (
        f"least(greatest({m} * ({_dlit(1.0)} - {m}) / {tau2}"
        f" - {_dlit(1.0)}, {_dlit(0.0)}), {_dlit(1e9)})"
    )
    return f"""
    WITH ent AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k,
               CAST((1000000 * sum(CASE WHEN l_returnflag = 'R' THEN 1
                    ELSE 0 END)) // count(*) AS BIGINT) AS rate_micro
        FROM lineitem GROUP BY l_suppkey
    ),
    ent2 AS (
        SELECT *,
               CAST(floor({_dlit(1e12)} * ((CAST(rate_micro AS DOUBLE)
                    * {_dlit(1e-6)}) * ({_dlit(1.0)} - CAST(rate_micro
                    AS DOUBLE) * {_dlit(1e-6)})) / CAST(n AS DOUBLE))
                    AS BIGINT) AS noise_pico
        FROM ent
    ),
    prior AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               sum(CAST(n AS HUGEINT)) AS tn,
               sum(CAST(k AS HUGEINT)) AS tk,
               sum(CAST(rate_micro AS HUGEINT)) AS sr,
               sum(CAST(rate_micro AS HUGEINT) * rate_micro) AS srr,
               sum(CAST(noise_pico AS HUGEINT)) AS sw
        FROM ent2
    )
    SELECT l_suppkey, n, k, rate_micro,
           CAST(floor({_dlit(1_000_000.0)}
                * (CAST(k AS DOUBLE) + {mm} * {m})
                / (CAST(n AS DOUBLE) + {mm})) AS BIGINT) AS shrunk_micro
    FROM ent2 CROSS JOIN prior
    ORDER BY l_suppkey
"""


_EB_SQL = _eb_sql()


# ---------------------------------------------------------------------------
# group-sequential monitoring (O'Brien-Fleming boundaries)
# ---------------------------------------------------------------------------

# O'Brien-Fleming 1979 constant: reject at look k when
# |z_k| > C / sqrt(t_k). C = C_B(K=7, two-sided alpha = 0.05) = 2.063
# from the standard group-sequential tables (Jennison & Turnbull 2000,
# Table 2.3) — the calendar spec is K = 7 yearly looks (TPC-H orders
# span 1992-1998 at every SF). r13 self-review replaced an
# overconservative 2.24 that spent well under the documented alpha.
_OBF_C = 2.063


def group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL experiment monitoring with O'BRIEN-FLEMING
    boundaries — the interim-analysis discipline that lets a platform
    peek at a running A/B test every period WITHOUT inflating the false
    positive rate (naive repeated z-tests at 1.96 inflate α to ~20% at
    7 looks): at each look the cumulative z compares against the
    conservative-early boundary C/√t_k (spec constant `_OBF_C`), which
    spends almost no alpha early and converges to ~nominal at full
    information. Looks here = order years; arms = an md5-parity
    customer split; metric = order value.

    Shape: ONE corpus groupBy to the (year, arm) moment grain (≤ 14
    rows, exact DECIMAL(38,0) sums with map-side combine); cumulative
    look totals via a triangular self-join on that grain (no window);
    the final-look information total broadcasts back for t_k. Welch z
    and the boundary derive from exact integers through identical IEEE
    text, both FLOORED to milli-units, and the crossing flag compares
    the floored integers — so even the boolean is bit-stable."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("yr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2"
        ).alias("arm"),
    )
    grain = cut(
        orders.groupBy("yr", "arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("sum(CAST(cents AS DECIMAL(38,0)))").alias("s"),
            F.expr("sum(CAST(cents AS DECIMAL(38,0)) * cents)").alias("ss"),
        )
    )
    looks = (
        grain.select("yr")
        .distinct()
        .alias("l")
        .join(F.broadcast(grain.alias("g")), F.expr("g.yr <= l.yr"))
        .groupBy(F.col("l.yr").alias("yr"))
        .agg(
            F.expr(
                "sum(CASE WHEN arm = 0 THEN CAST(n AS DECIMAL(38,0))"
                " ELSE 0 END)"
            ).alias("na"),
            F.expr(
                "sum(CASE WHEN arm = 0 THEN s ELSE CAST(0 AS"
                " DECIMAL(38,0)) END)"
            ).alias("sa"),
            F.expr(
                "sum(CASE WHEN arm = 0 THEN ss ELSE CAST(0 AS"
                " DECIMAL(38,0)) END)"
            ).alias("ssa"),
            F.expr(
                "sum(CASE WHEN arm = 1 THEN CAST(n AS DECIMAL(38,0))"
                " ELSE 0 END)"
            ).alias("nb"),
            F.expr(
                "sum(CASE WHEN arm = 1 THEN s ELSE CAST(0 AS"
                " DECIMAL(38,0)) END)"
            ).alias("sb"),
            F.expr(
                "sum(CASE WHEN arm = 1 THEN ss ELSE CAST(0 AS"
                " DECIMAL(38,0)) END)"
            ).alias("ssb"),
        )
    )
    fin = looks.agg(
        F.expr("max(na + nb)").alias("ntot_fin")
    )
    za, zb = _gs_z_exprs()
    return (
        looks.crossJoin(F.broadcast(fin))
        .select(
            "yr",
            F.expr("CAST(na AS BIGINT)").alias("n_a"),
            F.expr("CAST(nb AS BIGINT)").alias("n_b"),
            F.expr(f"CAST(floor({_dlit(1000.0)} * {za}) AS BIGINT)").alias(
                "z_milli"
            ),
            F.expr(f"CAST(floor({_dlit(1000.0)} * {zb}) AS BIGINT)").alias(
                "boundary_milli"
            ),
        )
        .withColumn(
            "crossed", F.expr("abs(z_milli) > boundary_milli")
        )
        .orderBy("yr")
    )


def _gs_z_exprs() -> tuple[str, str]:
    """Shared (z, boundary) expression texts over the cumulative-look
    columns (na, sa, ssa, nb, sb, ssb, ntot_fin)."""

    def var(n: str, s: str, ss: str) -> str:
        nn = f"CAST({n} AS DOUBLE)"
        return (
            f"(({nn} * CAST({ss} AS DOUBLE)"
            f" - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE))"
            f" / ({nn} * ({nn} - {_dlit(1.0)})))"
        )

    mean_diff = (
        "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
    )
    se = (
        f"sqrt({var('na', 'sa', 'ssa')} / CAST(na AS DOUBLE)"
        f" + {var('nb', 'sb', 'ssb')} / CAST(nb AS DOUBLE))"
    )
    z = f"({mean_diff} / {se})"
    t_k = "((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / CAST(ntot_fin AS DOUBLE))"
    boundary = f"({_dlit(_OBF_C)} / sqrt({t_k}))"
    return z, boundary


def _group_sequential_sql() -> str:
    za, zb = _gs_z_exprs()
    return f"""
    WITH o AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(instr('0123456789abcdef',
                    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1
                    AS INT) % 2 AS arm
        FROM orders
    ),
    grain AS (
        SELECT yr, arm, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(cents AS HUGEINT)) AS s,
               sum(CAST(cents AS HUGEINT) * cents) AS ss
        FROM o GROUP BY yr, arm
    ),
    looks AS (
        SELECT l.yr,
               sum(CASE WHEN g.arm = 0 THEN CAST(g.n AS HUGEINT)
                   ELSE 0 END) AS na,
               sum(CASE WHEN g.arm = 0 THEN g.s ELSE 0 END) AS sa,
               sum(CASE WHEN g.arm = 0 THEN g.ss ELSE 0 END) AS ssa,
               sum(CASE WHEN g.arm = 1 THEN CAST(g.n AS HUGEINT)
                   ELSE 0 END) AS nb,
               sum(CASE WHEN g.arm = 1 THEN g.s ELSE 0 END) AS sb,
               sum(CASE WHEN g.arm = 1 THEN g.ss ELSE 0 END) AS ssb
        FROM (SELECT DISTINCT yr FROM grain) l
        JOIN grain g ON g.yr <= l.yr
        GROUP BY l.yr
    ),
    fin AS (SELECT max(na + nb) AS ntot_fin FROM looks)
    SELECT yr,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(floor({_dlit(1000.0)} * {za}) AS BIGINT) AS z_milli,
           CAST(floor({_dlit(1000.0)} * {zb}) AS BIGINT)
               AS boundary_milli,
           abs(CAST(floor({_dlit(1000.0)} * {za}) AS BIGINT))
               > CAST(floor({_dlit(1000.0)} * {zb}) AS BIGINT) AS crossed
    FROM looks CROSS JOIN fin
    ORDER BY yr
"""


_GROUP_SEQUENTIAL_SQL = _group_sequential_sql()


QUERIES = {
    "poisson_bootstrap_ci": poisson_bootstrap_ci,
    "bradley_terry_strengths": bradley_terry_strengths,
    "pass_at_k_estimator": pass_at_k_estimator,
    "interrater_kappa": interrater_kappa,
    "jackknife_source_influence": jackknife_source_influence,
    "conformal_interval_calibration": conformal_interval_calibration,
    "power_analysis_mde": power_analysis_mde,
    "bradley_terry_two_batch": bradley_terry_two_batch,
    "isotonic_calibration": isotonic_calibration,
    "delta_method_ratio_ci": delta_method_ratio_ci,
    "eb_shrunk_return_rates": eb_shrunk_return_rates,
    "group_sequential_obf": group_sequential_obf,
}

ORACLES = {
    "poisson_bootstrap_ci": _POISSON_BOOTSTRAP_SQL,
    "bradley_terry_strengths": _BRADLEY_TERRY_SQL,
    "pass_at_k_estimator": _PASS_AT_K_SQL,
    "interrater_kappa": _KAPPA_SQL,
    "jackknife_source_influence": _JACKKNIFE_SQL,
    "conformal_interval_calibration": _CONFORMAL_SQL,
    "power_analysis_mde": _POWER_MDE_SQL,
    "bradley_terry_two_batch": _BRADLEY_TERRY_SQL,
    "isotonic_calibration": _ISOTONIC_SQL,
    "delta_method_ratio_ci": _DELTA_RATIO_SQL,
    "eb_shrunk_return_rates": _EB_SQL,
    "group_sequential_obf": _GROUP_SEQUENTIAL_SQL,
}
