"""Retrieval and calibration evaluation metrics.

Engine-new (the reference's only metric surface is the torchmetrics AUROC
in ``/root/reference/halvesting_geometric/trainers/link_prediction.py``;
the data-side AUROC lives in operators/metrics.py). This module closes
the evaluation loop for the index structures the engine already builds
(LSH ANN, IVF, PQ): given a ranked prediction table and a relevance
table, score retrieval quality per query — and given scored binary
outcomes, measure probability calibration.

Cross-engine exactness: nDCG's ``1/log2(rank+1)`` discounts are NOT
recomputed per engine (JVM vs DuckDB ``log2`` may differ in the last
ulp, and float sums are partition-order-dependent); they are quantized
once in Python to e9 integers (:func:`dcg_discounts`) that oracle
builders inline verbatim, so DCG is a sum of longs — exact and
order-free — and every metric is integer arithmetic end to end.

Scale: one shuffle on query_id for the join + per-query aggregation
(state = counters, not lists); the discount table is a k-row broadcast.
ECE is a single groupBy on the bin id — B-bounded state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.prefix import range_prefix

E6 = 1_000_000
E9 = 1_000_000_000


def dcg_discounts(k: int) -> list[int]:
    """The k shared nDCG discounts 1/log2(i+1), i = 1..k, as e9 integers.

    Public so oracle builders inline the exact same constants; integer
    DCG sums are order-free, so Spark's partition order and DuckDB's scan
    order cannot produce differing float round-off."""
    return [int(round(E9 / math.log2(i + 1))) for i in range(1, k + 1)]


def ranking_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval metrics at cutoff ``k``, binary relevance.

    ``results``: (query_col, item_col, rank_col) with rank 1-based within
    each query (ties are the caller's responsibility to break). ``truth``:
    (query_col, item_col) relevant pairs. Returns one row per query that
    appears in ``truth``: (query_col, n_rel, hits, recall_e6, rr_e6,
    ndcg_e6) where rr is the reciprocal of the best (lowest) hit rank,
    0 when no hit, and nDCG uses binary gains with the shared e9 integer
    discounts from :func:`dcg_discounts` — its ideal DCG truncates at
    ``min(n_rel, k)``. ``results`` must be unique per (query, item);
    ``truth`` must be distinct pairs.
    """
    spark = SparkSession.getActiveSession()
    disc = dcg_discounts(k)
    disc_df = F.broadcast(
        spark.createDataFrame(
            [(i + 1, d) for i, d in enumerate(disc)],
            f"{rank_col} long, disc_e9 long",
        )
    )
    # ideal DCG prefix sums (e9 ints), rank -> sum of first `rank` discounts
    prefix, acc = [], 0
    for d in disc:
        acc += d
        prefix.append(acc)
    idcg_e9 = F.element_at(
        F.array(*[F.lit(p) for p in prefix]),
        F.least(F.col("n_rel"), F.lit(k)).cast("int"),
    )

    topk = results.filter(F.col(rank_col) <= k).join(disc_df, rank_col)
    hits = truth.join(
        topk, [query_col, item_col], "left"
    )
    per_q = hits.groupBy(query_col).agg(
        F.count("*").cast("long").alias("n_rel"),
        F.sum(F.col(rank_col).isNotNull().cast("long")).alias("hits"),
        F.min(rank_col).alias("best_rank"),
        F.coalesce(F.sum("disc_e9"), F.lit(0)).cast("long").alias("dcg_e9"),
    )
    return per_q.select(
        query_col,
        "n_rel",
        "hits",
        F.expr(f"(hits * {E6}) div n_rel").cast("long").alias("recall_e6"),
        F.coalesce(
            F.expr(f"{E6} div best_rank"), F.lit(0)
        ).cast("long").alias("rr_e6"),
        F.expr(f"dcg_e9 * {E6}").cast("long").alias("_num"),
        idcg_e9.alias("_den"),
    ).select(
        query_col,
        "n_rel",
        "hits",
        "recall_e6",
        "rr_e6",
        F.expr("_num div _den").cast("long").alias("ndcg_e6"),
    )


def calibration_error(
    scored: DataFrame,
    score_e6_col: str = "score_e6",
    label_col: str = "label",
    bins: int = 10,
) -> DataFrame:
    """Reliability table + expected calibration error, exact integers.

    ``scored``: (score_e6_col long in [0, 1e6], label_col 0/1). Scores are
    equal-width binned: ``bin = min(floor(score_e6 * bins / 1e6), bins-1)``.
    Returns one row per non-empty bin — (bin, n, avg_score_e6,
    avg_label_e6, gap_e6) — plus a summary row bin = -1 whose ``gap_e6``
    is the ECE (sum of n/N-weighted gaps). Every average is an integer
    division of long sums, so the result is engine-exact.
    """
    b = (
        F.least(
            F.floor(F.col(score_e6_col) * bins / E6), F.lit(bins - 1)
        ).cast("long")
    )
    per_bin = (
        scored.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(score_e6_col).cast("long").alias("s_sum"),
            F.sum(F.col(label_col).cast("long") * E6).alias("l_sum"),
        )
        .select(
            "bin",
            "n",
            F.expr("s_sum div n").alias("avg_score_e6"),
            F.expr("l_sum div n").alias("avg_label_e6"),
            F.abs(
                F.expr("s_sum div n") - F.expr("l_sum div n")
            ).alias("gap_e6"),
        )
    )
    total = per_bin.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n").alias("n"),
        F.lit(None).cast("long").alias("avg_score_e6"),
        F.lit(None).cast("long").alias("avg_label_e6"),
        # ECE: sum over bins of (n_b * gap_b) div N — one integer division
        # at the end, so no per-bin rounding accumulates
        F.expr("sum(n * gap_e6) div sum(n)").cast("long").alias("gap_e6"),
    )
    return per_bin.unionByName(total)


def classification_report(
    labeled: DataFrame,
    actual_col: str = "actual",
    predicted_col: str = "predicted",
) -> DataFrame:
    """Per-class confusion metrics + global accuracy and Cohen's kappa,
    every value an exact integer.

    One row per class seen in either column: (class, support, tp, fp, fn,
    precision_e6, recall_e6, f1_e6, accuracy_e6, kappa_e6) — the last two
    repeat the global values on every row so the table stays one relation.

    All three per-class ratios reduce to single integer divisions of exact
    longs: precision = tp/(tp+fp), recall = tp/(tp+fn), and F1 folds to
    2*tp / (2*tp + fp + fn) — no float intermediates. Cohen's kappa uses
    the identity

        kappa = (N*trace - S) / (N^2 - S),   S = sum_c row_c * col_c,

    so one fixed-point division at the end covers agreement-by-chance
    correction exactly (operands stay double-exact below ~10^7 rows; past
    that the e6 scaling of N*trace needs a pre-division).

    Scale shape: one map-side-combined groupBy over (actual, predicted) —
    state bounded by |classes|^2 — then everything else is arithmetic over
    that tiny confusion table plus broadcast-sized joins; no windows, no
    collects, no floats until the final quantized divisions.
    """
    conf = (
        labeled.select(
            F.col(actual_col).cast("string").alias("a"),
            F.col(predicted_col).cast("string").alias("p"),
        )
        .groupBy("a", "p")
        .agg(F.count("*").cast("long").alias("n"))
        .persist()
    )
    rows = conf.groupBy("a").agg(F.sum("n").alias("row_n"))
    cols = conf.groupBy("p").agg(F.sum("n").alias("col_n"))
    # global scalars as a 1-row broadcast frame: N, trace, S = sum(row*col)
    glob = (
        rows.join(
            cols, rows["a"] == cols["p"], "full_outer"
        )
        .select(
            F.coalesce("row_n", F.lit(0)).alias("row_n"),
            F.coalesce("col_n", F.lit(0)).alias("col_n"),
        )
        .agg(
            F.sum("row_n").cast("long").alias("n_total"),
            F.sum(F.col("row_n") * F.col("col_n")).cast("long").alias("s_rc"),
        )
    )
    trace = conf.filter(F.col("a") == F.col("p")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("trace")
    )
    classes = (
        conf.select(F.col("a").alias("cls"))
        .unionByName(conf.select(F.col("p").alias("cls")))
        .distinct()
    )
    tp = conf.filter(F.col("a") == F.col("p")).select(
        F.col("a").alias("cls"), F.col("n").alias("tp")
    )
    out = (
        classes.join(tp, "cls", "left")
        .join(rows.select(F.col("a").alias("cls"), "row_n"), "cls", "left")
        .join(cols.select(F.col("p").alias("cls"), "col_n"), "cls", "left")
        .select(
            "cls",
            F.coalesce("row_n", F.lit(0)).cast("long").alias("support"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            (F.coalesce("col_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.coalesce("row_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("long")
            .alias("fn"),
        )
        .withColumn(
            "precision_e6",
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.floor(
                    F.col("tp") * 1_000_000.0 / (F.col("tp") + F.col("fp"))
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "recall_e6",
            F.when(
                F.col("tp") + F.col("fn") > 0,
                F.floor(
                    F.col("tp") * 1_000_000.0 / (F.col("tp") + F.col("fn"))
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "f1_e6",
            F.when(
                F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                F.floor(
                    (F.lit(2) * F.col("tp"))
                    * 1_000_000.0
                    / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .join(F.broadcast(glob))
        .join(F.broadcast(trace))
        .select(
            "cls",
            "support",
            "tp",
            "fp",
            "fn",
            "precision_e6",
            "recall_e6",
            "f1_e6",
            F.floor(
                F.col("trace") * 1_000_000.0 / F.col("n_total") + F.lit(0.5)
            )
            .cast("long")
            .alias("accuracy_e6"),
            F.when(
                F.col("n_total") * F.col("n_total") - F.col("s_rc") > 0,
                F.floor(
                    (F.col("n_total") * F.col("trace") - F.col("s_rc"))
                    * 1_000_000.0
                    / (F.col("n_total") * F.col("n_total") - F.col("s_rc"))
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(1_000_000)).cast("long").alias("kappa_e6"),
        )
    )
    out = out.localCheckpoint(eager=True)
    conf.unpersist()
    return out


def _avg_rank2(hist: DataFrame, value_col: str, cnt_col: str) -> DataFrame:
    """Doubled average ranks per distinct value of a value histogram.

    ``hist`` holds one row per distinct ``value_col`` with its row count
    ``cnt_col``; the result adds ``r2 = 2 * average ascending rank`` of the
    rows holding that value (ties share the mean of their rank block:
    ``r2 = 2*cnt_less + cnt_eq + 1``) — doubled so the result is an exact
    integer even when a tie block has even size. ``cnt_less`` is the
    exclusive count prefix from ``plans.prefix.range_prefix``: no global
    sort, no single-partition window.
    """
    return range_prefix(hist, [value_col], sums=(cnt_col,)).withColumn(
        "r2",
        (2 * F.col(f"cum_{cnt_col}") - F.col(cnt_col) + 1).cast("long"),
    ).drop(f"cum_{cnt_col}")


def spearman_correlation(
    scores_a: DataFrame,
    scores_b: DataFrame,
    item_col: str = "item",
    value_col: str = "value",
) -> DataFrame:
    """Exact Spearman rank correlation between two per-item score tables.

    Inner-joins on ``item_col``, assigns exact average (midrank) ascending
    ranks to each side independently over the joined population, and
    returns one row ``(spearman_e6, n_items)`` — the Pearson correlation of
    the rank vectors, round-half-up e6 fixed point.

    Cross-engine exactness: ranks are exact integers (doubled midranks),
    the five Pearson moments are exact long sums, and the only float step
    is the final ratio — each moment is cast to double before combining so
    Spark and any ANSI-SQL oracle round the >2^53 intermediate products
    identically (IEEE product of identical doubles).

    Scale: one item-key shuffle for the join, one groupBy per side for the
    distinct-value count tables, the range prefix of :func:`_avg_rank2`,
    two value-key joins to pull ranks back, then a single 1-row
    aggregation. Nothing global-sorts the full input.
    """
    a = scores_a.select(
        F.col(item_col).alias("item"), F.col(value_col).alias("va")
    )
    b = scores_b.select(
        F.col(item_col).alias("item"), F.col(value_col).alias("vb")
    )
    j = a.join(b, "item")
    from pyspark import StorageLevel

    j = j.persist(StorageLevel.MEMORY_AND_DISK)
    ra = _avg_rank2(j.groupBy("va").count(), "va", "count").select(
        "va", F.col("r2").alias("r2a")
    )
    rb = _avg_rank2(j.groupBy("vb").count(), "vb", "count").select(
        "vb", F.col("r2").alias("r2b")
    )
    ranked = j.join(ra, "va").join(rb, "vb")
    # Moments accumulate as decimal(38,0): still EXACT integers (the
    # double-cast happens once, after the sum), but overflow-safe far past
    # long — sum(r2^2) already exceeds 2^63 at ~2M items, and decimal(38,0)
    # holds 10^12-row corpora (r2 <= 2e12 -> sum of squares <= 4e36 < 1e38).
    da = F.col("r2a").cast("decimal(19,0)")
    db_ = F.col("r2b").cast("decimal(19,0)")
    mom = ranked.agg(
        F.count("*").alias("n"),
        F.sum("r2a").alias("sx"),
        F.sum("r2b").alias("sy"),
        F.sum(da * db_).alias("sxy"),
        F.sum(da * da).alias("sxx"),
        F.sum(db_ * db_).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    res = mom.select(
        F.when(den > 0, F.floor(num * F.lit(1_000_000.0) / den + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("spearman_e6"),
        F.col("n").cast("long").alias("n_items"),
    )
    return res
