"""Preference-data aggregation: Bradley–Terry strengths and win-rate matrices.

Engine-new (no counterpart in the reference — its scope ends at link
prediction over the citation graph; see
``/root/reference/halvesting_geometric/trainers/link_prediction.py`` for the
closest analog, a pairwise ranking loss). A web-scale training-data pipeline
ingests pairwise preference judgments (RLHF comparisons, citation votes,
A/B outcomes) and needs a global item ranking; Bradley–Terry (1952) via
Hunter's MM algorithm (Annals of Statistics 2004) is the standard estimator:

    p_i  <-  W_i / Σ_{j: n_ij>0} n_ij / (p_i + p_j)

where W_i = total wins of item i and n_ij = comparisons between i and j,
followed by a rescale so mean strength is 1 (the update is scale-invariant,
so an explicit normalization pins the representative).

Dataflow shape (identical to one PageRank superstep): the symmetric pair
table (i, j, n_ij) is the loop-invariant "edge" table, the strength vector
(i, p) is the state; each iteration is gather (two equi-joins pulling p_i
and p_j onto the pair rows) + scatter (map-side-combined groupBy(i) sum),
then a 1-row broadcast aggregate for the rescale — no driver scalar per
iteration, one Spark job per superstep, lineage truncated with a lazy
``localCheckpoint`` exactly like operators/simrank.py. At 10^12 comparisons
the pair table shuffles once on (a, b) to aggregate multiplicities and the
per-iteration cost is two shuffles of the V-row state — never the raw
comparison log.

Determinism / oracle exactness: no RNG; the only floats are the MM division
chain, replayed by the DuckDB twin with the same unrolled expression tree
(sums are partition-order-dependent in the last ulp; the shared e6
fixed-point rounding absorbs that, same contract as the PageRank gate).
Zero-win items reach strength 0 after the first iteration and stay there —
the MM fixed point for items that never win; division is always safe because
any compared pair contains at least one item with a win (the winner of that
very comparison), so p_i + p_j > 0 whenever n_ij > 0.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compact_item_keys(
    c: DataFrame, cols: tuple[str, ...]
) -> tuple[DataFrame, str | None]:
    """Cast integral item keys to int32 when every value fits — half the
    key bytes through the loop-invariant pair table and the per-iteration
    state joins (the lesson of ``centrality._topology(compact=True)``: id
    compaction moved the 20M-edge PageRank superstep from E(1→4)=0.70 to
    0.95).
    Returns ``(df, original_dtype)``; dtype is None when no compaction
    applied (non-integral items, or values outside int32). Callers cast
    the output item column back so the public schema is unchanged."""
    dt = dict(c.dtypes)[cols[0]]
    if dt not in ("bigint", "int"):
        return c, None
    if dt == "int":
        return c, None
    stats = c.agg(
        F.min(F.least(*cols)).alias("lo"),
        F.max(F.greatest(*cols)).alias("hi"),
    ).first()
    if (
        stats["lo"] is None
        or stats["lo"] < -(2**31)
        or stats["hi"] >= 2**31
    ):
        return c, None

    # The bound check above ran as its own action on the (unpersisted)
    # comparisons lineage; a non-deterministic upstream could present
    # different values when the compacted frame is re-evaluated downstream.
    # Guard the cast itself so an out-of-range value fails fast in EVERY
    # evaluation (independent of the session's ANSI setting) instead of
    # silently wrapping.
    def _checked(x: str):
        col = F.col(x)
        return (
            F.when(col.between(-(2**31), 2**31 - 1), col.cast("int"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "item key outside int32 after compaction "
                            "decision (non-deterministic source?): "
                        ),
                        col.cast("string"),
                    )
                )
            )
            .alias(x)
        )

    return c.select(*[_checked(x) for x in cols]), dt

__all__ = [
    "BradleyTerryResult",
    "bradley_terry",
    "win_rate_matrix",
    "rank_centrality",
    "dpo_pairs",
    "tournament_cycles",
    "best_of_n",
    "bt_calibration",
]

E6 = 1_000_000


@dataclass
class BradleyTerryResult:
    strengths: DataFrame  # (item, strength) doubles, mean 1 over items
    iterations: int
    num_items: int
    num_pairs: int  # distinct unordered compared pairs


def bradley_terry(
    comparisons: DataFrame,
    fixed_iters: int = 5,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> BradleyTerryResult:
    """Bradley–Terry strengths from a pairwise-outcome log, fixed MM steps.

    ``comparisons``: one row per judged comparison, ``winner_col`` beats
    ``loser_col`` (repeated rows = multiplicity; self-comparisons are
    dropped). Items are whatever the two columns hold (any hashable SQL
    type). Returns strengths normalized to mean 1; items that never win
    have strength 0 (the MM fixed point), ties are out of scope.

    ``fixed_iters`` MM steps, no convergence probe — the gate contract is a
    deterministic unrolled computation an external SQL engine replays
    exactly; callers wanting convergence wrap this with their own delta
    check over ``strengths``.
    """
    if fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).where(F.col("w") != F.col("l"))
    c, _orig_dt = _compact_item_keys(c, ("w", "l"))

    # Loop invariants: wins per item, symmetric pair multiplicities, items.
    # wins is referenced once per MM iteration inside the single batched
    # job — persist it so the raw comparison log is aggregated once, not
    # once per iteration (the docstring's "never the raw comparison log"
    # contract; unpersisted it re-scanned c fixed_iters times).
    wins = c.groupBy(F.col("w").alias("i")).agg(
        F.count("*").cast("double").alias("wn")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    und = (
        c.select(F.least("w", "l").alias("a"), F.greatest("w", "l").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("n"))
    )
    sym = und.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "n"
    ).unionByName(und.select(F.col("b").alias("i"), F.col("a").alias("j"), "n"))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    items = sym.select("i").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    num_items = items.count()
    # sym holds each unordered pair exactly twice (a<b strictly, so the two
    # directions never collide): count the CACHED sym instead of
    # re-aggregating und from the raw comparison log
    num_pairs = sym.count() // 2

    p = items.select("i", F.lit(1.0).alias("p"))
    for _ in range(fixed_iters):
        denom = (
            sym.join(p.select(F.col("i"), F.col("p").alias("pi")), "i")
            .join(
                p.select(F.col("i").alias("j"), F.col("p").alias("pj")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("n") / (F.col("pi") + F.col("pj"))).alias("d"))
        )
        raw = denom.join(wins, "i", "left").select(
            "i", (F.coalesce("wn", F.lit(0.0)) / F.col("d")).alias("p")
        )
        # Rescale to mean 1 with an in-plan 1-row broadcast aggregate
        # (scale-invariant update -> pin the representative, no driver scalar).
        tot = raw.agg(F.sum("p").alias("s"))
        p = raw.crossJoin(F.broadcast(tot)).select(
            "i",
            (F.col("p") * F.lit(float(num_items)) / F.col("s")).alias("p"),
        )
        p = p.localCheckpoint(eager=False)

    item_out = (
        F.col("i").cast(_orig_dt) if _orig_dt else F.col("i")
    ).alias("item")
    # materialize the whole MM chain ONCE while the loop-invariant caches are
    # still live, then release them — returning the lazy chain and dropping
    # the caches first (the previous shape) made the caller's first action
    # recompute sym/wins from the raw log once per iteration reference
    out = p.select(item_out, F.col("p").alias("strength")).localCheckpoint(
        eager=True
    )
    sym.unpersist()
    items.unpersist()
    wins.unpersist()
    return BradleyTerryResult(
        strengths=out,
        iterations=fixed_iters,
        num_items=num_items,
        num_pairs=num_pairs,
    )


def win_rate_matrix(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    min_total: int = 1,
) -> DataFrame:
    """Per-pair win counts and exact fixed-point win rates.

    One row per unordered compared pair (a < b by SQL ordering):
    ``(item_a, item_b, a_wins, n_total, a_winrate_e6)`` where
    ``a_winrate_e6`` is round-half-up fixed point of a_wins / n_total —
    computed as ``floor((a_wins*2e6 + n_total) / (2*n_total))`` on values
    far inside the 2^53 double-exact window, so Spark and any ANSI-SQL
    oracle agree bit-for-bit. ``min_total`` drops thinly-compared pairs.

    Scale: one shuffle — groupBy on the canonical (a, b) key with map-side
    combine; output is bounded by the distinct compared-pair count.
    """
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).where(F.col("w") != F.col("l"))
    g = (
        c.select(
            F.least("w", "l").alias("item_a"),
            F.greatest("w", "l").alias("item_b"),
            (F.col("w") == F.least("w", "l")).cast("long").alias("a_win"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum("a_win").alias("a_wins"),
            F.count("*").alias("n_total"),
        )
        .where(F.col("n_total") >= F.lit(int(min_total)))
    )
    return g.select(
        "item_a",
        "item_b",
        "a_wins",
        "n_total",
        F.floor(
            (F.col("a_wins") * F.lit(2 * E6) + F.col("n_total"))
            / (F.lit(2.0) * F.col("n_total"))
        )
        .cast("long")
        .alias("a_winrate_e6"),
    )


def rank_centrality(
    comparisons: DataFrame,
    fixed_iters: int = 5,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> DataFrame:
    """Rank Centrality (Negahban–Oh–Shah 2012): spectral ranking from a
    pairwise-comparison log as the stationary distribution of a random walk
    on the comparison graph.

    For each compared unordered pair {i, j} the walk moves i -> j with
    probability ``a_ij / d_max`` where ``a_ij`` is the empirical fraction of
    the n_ij comparisons that j won, and ``d_max`` is the maximum number of
    distinct opponents any item has (which makes every row of the transition
    matrix sub-stochastic; the remainder is the self-loop). ``fixed_iters``
    power-iteration steps from the uniform vector, then a mean-1 rescale —
    the same deterministic unrolled-expression contract as
    :func:`bradley_terry` (no convergence probe, so an external SQL engine
    replays the float chain exactly; the e6 gate rounding absorbs
    partition-order ulp).

    Returns ``(item, score)`` doubles with mean 1 over compared items.

    Dataflow per superstep — identical shape to one PageRank iteration
    (operators/pagerank.py): gather (equi-join pulling pi onto the a_ij edge
    rows), scatter (map-side-combined groupBy(j) sum), plus the self-loop
    term as a V-row join with the precomputed out-mass column; lineage
    truncated with a lazy ``localCheckpoint`` each step. The raw comparison
    log is shuffled once to build the (i, j, a_ij) edge table; iterations
    touch only V- and E-row loop invariants. d_max enters the plan as a
    1-row broadcast cross join — no driver scalar.
    """
    if fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).where(F.col("w") != F.col("l"))
    c, _orig_dt = _compact_item_keys(c, ("w", "l"))

    und = (
        c.select(
            F.least("w", "l").alias("a"),
            F.greatest("w", "l").alias("b"),
            (F.col("w") == F.least("w", "l")).cast("double").alias("a_win"),
        )
        .groupBy("a", "b")
        .agg(
            F.sum("a_win").alias("wa"),
            F.count("*").cast("double").alias("n"),
        )
    )
    # Directed move fractions: i -> j with weight (wins of j over i) / n_ij.
    edges = (
        und.select(
            F.col("a").alias("i"),
            F.col("b").alias("j"),
            ((F.col("n") - F.col("wa")) / F.col("n")).alias("aij"),
        )
        .unionByName(
            und.select(
                F.col("b").alias("i"),
                F.col("a").alias("j"),
                (F.col("wa") / F.col("n")).alias("aij"),
            )
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Out-mass and degree per item; d_max via a 1-row broadcast aggregate.
    out = edges.groupBy("i").agg(
        F.sum("aij").alias("omass"), F.count("*").cast("double").alias("deg")
    )
    dmax = out.agg(F.max("deg").alias("dmax"))
    items = out.crossJoin(F.broadcast(dmax)).select(
        "i", (F.lit(1.0) - F.col("omass") / F.col("dmax")).alias("self_p"),
        "dmax",
    )
    items = items.persist(StorageLevel.MEMORY_AND_DISK)
    num_items = items.count()

    pi = items.select("i", F.lit(1.0 / num_items).alias("p"))
    for _ in range(fixed_iters):
        moved = (
            edges.join(pi.select(F.col("i"), F.col("p").alias("pv")), "i")
            .groupBy(F.col("j").alias("i"))
            .agg(F.sum(F.col("pv") * F.col("aij")).alias("m"))
        )
        pi = (
            items.join(pi, "i")
            .join(moved, "i", "left")
            .select(
                "i",
                (
                    F.coalesce(F.col("m"), F.lit(0.0)) / F.col("dmax")
                    + F.col("self_p") * F.col("p")
                ).alias("p"),
            )
            .localCheckpoint(eager=False)
        )

    # Mean-1 rescale (in-plan 1-row broadcast, same contract as BT).
    tot = pi.agg(F.sum("p").alias("s"))
    res = pi.crossJoin(F.broadcast(tot)).select(
        (F.col("i").cast(_orig_dt) if _orig_dt else F.col("i")).alias(
            "item"
        ),
        (F.col("p") * F.lit(float(num_items)) / F.col("s")).alias("score"),
    )
    # materialize before dropping the loop-invariant caches (see
    # bradley_terry: a lazy return + immediate unpersist re-derived the
    # edge table from the raw log once per iteration reference)
    res = res.localCheckpoint(eager=True)
    edges.unpersist()
    items.unpersist()
    return res


def dpo_pairs(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    min_votes: int = 1,
    min_margin: int = 1,
) -> DataFrame:
    """DPO-style (chosen, rejected) pair construction by per-pair majority.

    Aggregates the raw judgment log per unordered pair, keeps pairs with a
    strict majority (ties dropped — no usable training signal), and emits
    ``(chosen, rejected, n_votes, margin)`` where ``margin`` is the vote
    surplus ``|wins_a - wins_b|``. ``min_votes`` / ``min_margin`` filter
    thinly- or weakly-judged pairs, the standard RLHF data-QA knobs.

    Scale: one shuffle (canonical-pair groupBy with map-side combine);
    output bounded by distinct compared pairs. Integer arithmetic end to
    end — exact under any ANSI-SQL oracle.
    """
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).where(F.col("w") != F.col("l"))
    g = (
        c.select(
            F.least("w", "l").alias("a"),
            F.greatest("w", "l").alias("b"),
            (F.col("w") == F.least("w", "l")).cast("long").alias("a_win"),
        )
        .groupBy("a", "b")
        .agg(F.sum("a_win").alias("wa"), F.count("*").alias("n"))
        .where(
            (F.col("n") >= F.lit(int(min_votes)))
            & (F.col("wa") * 2 != F.col("n"))
        )
    )
    return g.select(
        F.when(F.col("wa") * 2 > F.col("n"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("chosen"),
        F.when(F.col("wa") * 2 > F.col("n"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("rejected"),
        F.col("n").alias("n_votes"),
        F.abs(F.col("wa") * 2 - F.col("n")).alias("margin"),
    ).where(F.col("margin") >= F.lit(int(min_margin)))


def tournament_cycles(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    max_degree: int | None = 1024,
) -> DataFrame:
    """Preference-consistency audit: directed 3-cycles in the majority graph.

    Builds the majority tournament (one edge chosen -> rejected per
    strict-majority pair, via :func:`dpo_pairs` semantics) and counts its
    directed 3-cycles a->b->c->a — each cycle is a rock-paper-scissors
    inconsistency that no total order (and no Bradley–Terry fit) can
    explain. Returns one row ``(n_cycles, n_majority_edges)``.

    Scale: the wedge join is the triangle kernel shape
    (operators/triangles.py) — majority edges joined to themselves on the
    middle vertex, then a left-semi close check; ``max_degree`` caps hub
    fan-out exactly like the triangle/linkpred machinery (``None`` opts
    out). Each cycle is produced once per rotation, so the raw match count
    is divided by 3 — exact integer arithmetic.
    """
    m = dpo_pairs(
        comparisons, winner_col=winner_col, loser_col=loser_col
    ).select(F.col("chosen").alias("u"), F.col("rejected").alias("v"))
    if max_degree is not None:
        deg = m.groupBy("u").agg(F.count("*").alias("outd"))
        keep = deg.where(F.col("outd") <= F.lit(int(max_degree))).select("u")
        m = m.join(keep, "u", "left_semi")
    m = m.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = m.count()

    ab = m.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = m.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ca = m.select(F.col("u").alias("c"), F.col("v").alias("a"))
    wedges = ab.join(bc, "b").where(F.col("a") != F.col("c"))
    closed = wedges.join(ca, ["c", "a"], "left_semi")
    res = closed.agg(
        (F.count("*") / F.lit(3)).cast("long").alias("n_cycles"),
        F.lit(n_edges).cast("long").alias("n_majority_edges"),
    ).localCheckpoint(eager=True)  # materialize before dropping m's cache
    m.unpersist()
    return res


def best_of_n(
    rewards: DataFrame,
    prompt_col: str = "prompt_id",
    response_col: str = "response_id",
    reward_col: str = "reward",
) -> DataFrame:
    """Best-of-n selection over reward-model scores.

    One row per prompt: the top- and bottom-scored response, the response
    count, and the reward gap — the standard rejection-sampling / DPO-from-
    rewards construction (keep the argmax as the SFT target, or the
    (best, worst) pair as a preference example). Deterministic ties: equal
    rewards break toward the smaller response id on BOTH ends, so the
    output is engine-independent. Rewards are exported as round-half-up e6
    fixed point (no raw doubles in the contract).

    Scale: one shuffle on the prompt key; the two windows share the
    partitioning (one exchange, two in-partition sorts), state bounded by
    the per-prompt response count. Prompts with a single response yield
    best == worst and gap 0 — filter upstream if unwanted.
    """
    from pyspark.sql import Window

    r = rewards.select(
        F.col(prompt_col).alias("prompt_id"),
        F.col(response_col).alias("response_id"),
        F.col(reward_col).cast("double").alias("reward"),
    )
    w_best = Window.partitionBy("prompt_id").orderBy(
        F.col("reward").desc(), F.col("response_id").asc()
    )
    w_worst = Window.partitionBy("prompt_id").orderBy(
        F.col("reward").asc(), F.col("response_id").asc()
    )
    w_all = Window.partitionBy("prompt_id")
    ranked = r.select(
        "prompt_id",
        "response_id",
        "reward",
        F.row_number().over(w_best).alias("rb"),
        F.row_number().over(w_worst).alias("rw"),
        F.count("*").over(w_all).alias("n_responses"),
    )
    best = ranked.where(F.col("rb") == 1).select(
        "prompt_id",
        F.col("response_id").alias("best_response"),
        F.col("reward").alias("best_reward"),
        "n_responses",
    )
    worst = ranked.where(F.col("rw") == 1).select(
        "prompt_id",
        F.col("response_id").alias("worst_response"),
        F.col("reward").alias("worst_reward"),
    )
    e6 = lambda c: F.floor(F.col(c) * E6 + F.lit(0.5)).cast("long")  # noqa: E731
    return best.join(worst, "prompt_id").select(
        "prompt_id",
        "best_response",
        e6("best_reward").alias("best_reward_e6"),
        "worst_response",
        e6("worst_reward").alias("worst_reward_e6"),
        "n_responses",
        F.floor((F.col("best_reward") - F.col("worst_reward")) * E6 + F.lit(0.5))
        .cast("long")
        .alias("gap_e6"),
    )


def bt_calibration(
    comparisons: DataFrame,
    strengths: DataFrame,
    buckets: int = 10,
    winner_col: str = "winner",
    loser_col: str = "loser",
    item_col: str = "item",
    strength_col: str = "strength",
) -> DataFrame:
    """Reliability table for a strength table against the judgment log.

    For every comparison, orient to the canonical (a, b) = (least,
    greatest) pair and predict P(a wins) = p_a / (p_a + p_b) (the
    Bradley–Terry link; any strength table with non-negative scores
    works). Rows land in ``buckets`` equal-width probability buckets;
    per bucket the output carries n, a-wins, the empirical a-win rate and
    the mean predicted probability (both round-half-up e6) — the ECE /
    reliability-diagram input for preference-model QA.

    Cross-engine exactness: the prediction is a single float division on
    strengths both engines already agree on (the bt5 contract); each row's
    prediction is quantized to e6 BEFORE averaging, so bucket means are
    exact integer arithmetic — no partition-order float sums. Division is
    safe on compared pairs (the winner of any comparison has strength > 0
    after one MM step; see :func:`bradley_terry`).

    Scale: two V-row joins to pull strengths onto the log, one groupBy on
    the bucket id — B-bounded output state.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    c = comparisons.select(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).where(F.col("w") != F.col("l"))
    st = strengths.select(
        F.col(item_col).alias("it"), F.col(strength_col).alias("p")
    )
    oriented = c.select(
        F.least("w", "l").alias("a"),
        F.greatest("w", "l").alias("b"),
        (F.col("w") == F.least("w", "l")).cast("long").alias("a_win"),
    )
    pred = (
        oriented.join(st.select(F.col("it").alias("a"), F.col("p").alias("pa")), "a")
        .join(st.select(F.col("it").alias("b"), F.col("p").alias("pb")), "b")
        .select(
            "a_win",
            (F.col("pa") / (F.col("pa") + F.col("pb"))).alias("pr"),
        )
        .select(
            "a_win",
            F.least(
                F.floor(F.col("pr") * F.lit(float(buckets))).cast("long"),
                F.lit(buckets - 1),
            ).alias("bucket"),
            F.floor(F.col("pr") * E6 + F.lit(0.5)).cast("long").alias("pr_e6"),
        )
    )
    g = pred.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("a_win").alias("a_wins"),
        F.sum("pr_e6").alias("sp"),
    )
    return g.select(
        "bucket",
        "n",
        "a_wins",
        F.floor((F.col("a_wins") * F.lit(2 * E6) + F.col("n")) / (F.lit(2.0) * F.col("n")))
        .cast("long")
        .alias("emp_winrate_e6"),
        F.floor((F.col("sp") * 2 + F.col("n")) / (F.lit(2.0) * F.col("n")))
        .cast("long")
        .alias("mean_pred_e6"),
    )
