"""Distributed two-sample statistical tests.

Engine-new (the reference has no hypothesis-testing surface; its closest
analog is the AUROC quality metric at
``/root/reference/halvesting_geometric/modules/modeling_link_prediction.py:112``,
whose rank-sum identity operators/metrics.py:auroc already implements).
A training-data pipeline A/B-ing two data mixes, two scrape snapshots, or
two model outputs needs distribution comparison as a first-class
aggregation: KS distance between two cohorts' length distributions,
Mann-Whitney rank tests on per-document quality scores, chi-square
independence of two categorical annotations, Welch t on means.

Cross-engine exactness (the DuckDB-oracle contract): every statistic is
computed from EXACT integer moments — per-distinct-value histograms, 2×
midranks, decimal(38,0) sums of integer products — with at most a fixed,
scalar chain of IEEE double ops (each correctly rounded, so deterministic
across JVM and DuckDB) applied once after aggregation, then quantized to
e6 fixed point. Chi-square quantizes per-cell (the sum of cells is a sum
of BIGINTs, order-free) following the evalmetrics.dcg_discounts
precedent.

Scale: every test aggregates a per-distinct-value histogram (one shuffle,
state bounded by value cardinality, never row count). Prefix sums over
the value axis use an unpartitioned window over DISTINCT values at
validation scale and ``plans.prefix.range_prefix`` when ``scalable=True``.
Chi-square's cell grid is |A|x|B| with the smaller margin broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.prefix import range_prefix

E6 = 1_000_000

__all__ = [
    "two_sample_ks",
    "mann_whitney_u",
    "chi2_independence",
    "welch_ttest",
    "bootstrap_mean_ci",
]


def _two_group_hist(
    df: DataFrame, value_col: str, group_col: str, a, b
) -> DataFrame:
    """Per-distinct-value counts ``(_v, ca, cb)`` for the two cohorts."""
    g = F.col(group_col)
    return (
        df.filter(g.isin([a, b]) & F.col(value_col).isNotNull())
        .select(
            F.col(value_col).alias("_v"),
            F.when(g == F.lit(a), 1).otherwise(0).alias("_ia"),
        )
        .groupBy("_v")
        .agg(
            F.sum("_ia").cast("long").alias("ca"),
            F.sum(1 - F.col("_ia")).cast("long").alias("cb"),
        )
    )


def _with_prefix(
    hist: DataFrame,
    cols: tuple[str, ...],
    scalable: bool,
    num_partitions: int = 64,
) -> DataFrame:
    """Inclusive prefix sums ``cum_<c>`` of ``cols`` over ``_v`` ascending.

    ``scalable=False``: one unpartitioned window over DISTINCT values —
    fine while value cardinality is modest (the histogram is already one
    groupBy smaller than the input). ``scalable=True``:
    ``plans.prefix.range_prefix`` over ``num_partitions`` range partitions
    of the value axis — no single-task window.
    """
    if not scalable:
        w = Window.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        for c in cols:
            hist = hist.withColumn(f"cum_{c}", F.sum(c).over(w))
        return hist
    return range_prefix(hist, ["_v"], sums=cols, num_partitions=num_partitions)


def two_sample_ks(
    df: DataFrame,
    value_col: str,
    group_col: str,
    a,
    b,
    scalable: bool = False,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance.

    D = max over observed values of \\|F_a(x) - F_b(x)\\|, computed on the
    per-distinct-value histogram with the cross-multiplied EXACT integer
    form ``|cum_a * n_b - cum_b * n_a|`` (decimal(38,0), overflow-safe),
    so the max is order-free and engine-exact; the single division to e6
    happens once on the scalar max.

    Returns one row ``(d_e6, n_a, n_b)``.
    """
    hist = _two_group_hist(df, value_col, group_col, a, b)
    hist = _with_prefix(hist, ("ca", "cb"), scalable, num_partitions)
    totals = hist.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    agg = hist.crossJoin(F.broadcast(totals)).agg(
        F.max(
            F.abs(
                F.col("cum_ca").cast("decimal(38,0)") * F.col("n_b")
                - F.col("cum_cb").cast("decimal(38,0)") * F.col("n_a")
            )
        ).alias("_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    return agg.select(
        F.floor(
            F.col("_num").cast("double")
            * F.lit(float(E6))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("d_e6"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    a,
    b,
    scalable: bool = False,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact Mann-Whitney U with midrank ties + normal-approx z.

    Doubled midranks over the POOLED histogram (``r2 = 2*cnt_less +
    cnt_eq + 1`` — exact integers even for even tie blocks, the
    evalmetrics._avg_rank2 identity), doubled rank sum ``R2_a = sum(ca *
    r2)`` as decimal(38,0), doubled U ``u2_a = R2_a - n_a*(n_a+1)``. The
    z-statistic applies the standard tie correction ``T = sum(t^3 - t)``
    (exact decimal) and continuity is NOT applied (matches the exact-U
    convention; the oracle replays the same closed form).

    Returns one row ``(u2_a, z_e6, n_a, n_b)``; ``u2_a`` is 2*U_a, an
    exact BIGINT.
    """
    hist = _two_group_hist(df, value_col, group_col, a, b)
    hist = hist.withColumn("cnt", F.col("ca") + F.col("cb"))
    hist = _with_prefix(hist, ("cnt",), scalable, num_partitions)
    hist = hist.withColumn(
        "r2", 2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1
    )
    agg = hist.agg(
        F.sum(
            F.col("ca").cast("decimal(38,0)") * F.col("r2")
        ).alias("_r2a"),
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt")
            * F.col("cnt")
            - F.col("cnt")
        ).alias("_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u2 = (
        F.col("_r2a")
        - F.col("n_a").cast("decimal(38,0)") * (F.col("n_a") + 1)
    ).cast("decimal(38,0)")
    mean2 = na * nb  # 2 * (n_a*n_b/2)
    var4 = (
        na
        * nb
        / F.lit(3.0)
        * (
            (n + 1)
            - F.col("_ties").cast("double") / (n * (n - 1))
        )
    )  # 4 * Var(U)
    z = (u2.cast("double") - mean2) / F.sqrt(var4)
    return agg.select(
        u2.cast("long").alias("u2_a"),
        F.when(var4 > 0, F.floor(z * E6 + F.lit(0.5)).cast("long"))
        .otherwise(F.lit(0))
        .alias("z_e6"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square statistic of independence over two categorical columns.

    Builds the full |A|x|B| cell grid (margins cross join, the B margin
    broadcast — categorical cardinality, never row count), left-joins
    observed counts so structurally-zero cells still contribute, and
    quantizes PER CELL to e6 BIGINT before the final sum:

        cell_e6 = floor( dbl(o*N - r*c)^2 / dbl(N*r*c) * 1e6 + 0.5 )

    with ``o*N - r*c`` and ``N*r*c`` exact decimal(38,0) cast to double
    BEFORE the square (one correctly-rounded cast each, deterministic
    across engines, and no decimal overflow at 1e12-row scale where the
    squared numerator would pass 1e38) — so the statistic is a sum of
    longs, order-free across engines (the evalmetrics.dcg_discounts
    precedent). p-values are out of scope (no
    special functions); callers compare the statistic against the
    chi-square quantile for ``dof``.

    Returns one row ``(chi2_e6, dof, n)``.
    """
    base = df.select(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    obs = base.groupBy("_a", "_b").agg(F.count("*").alias("o"))
    ra = base.groupBy("_a").agg(F.count("*").alias("r"))
    cb = base.groupBy("_b").agg(F.count("*").alias("c"))
    n_total = base.count()
    grid = ra.crossJoin(F.broadcast(cb)).join(obs, ["_a", "_b"], "left")
    grid = grid.withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    num = (
        F.col("o").cast("decimal(38,0)") * F.lit(n_total)
        - F.col("r").cast("decimal(38,0)") * F.col("c")
    )
    den = (
        F.lit(n_total).cast("decimal(38,0)")
        * F.col("r")
        * F.col("c")
    )
    num_d = num.cast("double")
    cell_e6 = F.floor(
        num_d * num_d / den.cast("double") * E6 + F.lit(0.5)
    ).cast("long")
    agg = grid.agg(
        F.sum(cell_e6).alias("chi2_e6"),
        F.count_distinct("_a").alias("_ka"),
        F.count_distinct("_b").alias("_kb"),
    )
    return agg.select(
        "chi2_e6",
        ((F.col("_ka") - 1) * (F.col("_kb") - 1))
        .cast("long")
        .alias("dof"),
        F.lit(n_total).cast("long").alias("n"),
    )


def welch_ttest(
    df: DataFrame, value_col: str, group_col: str, a, b
) -> DataFrame:
    """Welch's unequal-variance t statistic + Welch-Satterthwaite dof.

    Moments accumulate as decimal(38,0) over the INTEGER-cast value
    column (exact, order-free; callers with fractional values pre-scale
    to fixed point), then one scalar chain of correctly-rounded double
    ops produces ``t`` and ``dof`` — deterministic across engines.

    Returns one row
    ``(t_e6, dof_e6, mean_a_e6, mean_b_e6, n_a, n_b)``.
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("decimal(38,0)")
    side = (
        df.filter(g.isin([a, b]) & F.col(value_col).isNotNull())
        .select(
            F.when(g == F.lit(a), 1).otherwise(0).alias("_ia"),
            v.alias("_v"),
        )
        .groupBy("_ia")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_v").alias("s1"),
            F.sum(F.col("_v") * F.col("_v")).alias("s2"),
        )
    )
    wide = side.agg(
        F.max(F.when(F.col("_ia") == 1, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("_ia") == 1, F.col("s1"))).alias("s1a"),
        F.max(F.when(F.col("_ia") == 1, F.col("s2"))).alias("s2a"),
        F.max(F.when(F.col("_ia") == 0, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("_ia") == 0, F.col("s1"))).alias("s1b"),
        F.max(F.when(F.col("_ia") == 0, F.col("s2"))).alias("s2b"),
    )

    def _stats(nc, s1c, s2c):
        nn = F.col(nc).cast("double")
        m = F.col(s1c).cast("double") / nn
        var = (
            F.col(s2c).cast("double")
            - F.col(s1c).cast("double") * F.col(s1c).cast("double") / nn
        ) / (nn - 1)
        return m, var / nn

    ma, va_n = _stats("n_a", "s1a", "s2a")
    mb, vb_n = _stats("n_b", "s1b", "s2b")
    t = (ma - mb) / F.sqrt(va_n + vb_n)
    dof = (
        (va_n + vb_n)
        * (va_n + vb_n)
        / (
            va_n * va_n / (F.col("n_a").cast("double") - 1)
            + vb_n * vb_n / (F.col("n_b").cast("double") - 1)
        )
    )
    return wide.select(
        F.floor(t * E6 + F.lit(0.5)).cast("long").alias("t_e6"),
        F.floor(dof * E6 + F.lit(0.5)).cast("long").alias("dof_e6"),
        F.floor(ma * E6 + F.lit(0.5)).cast("long").alias("mean_a_e6"),
        F.floor(mb * E6 + F.lit(0.5)).cast("long").alias("mean_b_e6"),
        "n_a",
        "n_b",
    )


# cumulative Poisson(1) CDF quantized to 60-bit integer thresholds: a
# bootstrap weight is w = #{k : u60 >= T_k}, an EXACT integer comparison
# against the hash value — no floats anywhere in the resampling path.
# Computed once here and inlined verbatim into the SQL oracle
# (evalmetrics.dcg_discounts precedent). The 9 thresholds give weights
# in 0..9 with the >=9 tail collapsed to w=9 (P(w>=9) < 1.1e-7).
def _poisson_cum60() -> list[int]:
    import math

    cum, out, p = 0.0, [], math.exp(-1.0)
    for k in range(9):
        cum += p
        out.append(min(int(cum * (1 << 60)), (1 << 60)))
        p /= k + 1
    return out


POISSON_CUM60 = _poisson_cum60()


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_cols: tuple[str, ...],
    group_cols: tuple[str, ...] = (),
    replicates: int = 64,
    alpha: float = 0.05,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Distributed Poisson bootstrap CI for the mean.

    The classic scalable bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): instead of
    resampling n rows with replacement (which needs global coordination),
    each row enters replicate ``r`` with weight ``w ~ Poisson(1)``,
    derived DETERMINISTICALLY from ``hash(id_cols, r)`` compared against
    pre-quantized 60-bit CDF thresholds — integer comparisons only, so
    the whole resampling is exact and engine-portable under
    ``hash_method='portable'`` (functions.portable_hash64; the default
    xxhash64 is the faster in-engine path).

    Scale: the replicate explosion happens map-side and collapses
    immediately into per-(group, replicate) partial sums (map-side
    combine), so the shuffle carries ``|groups| * replicates`` rows, not
    ``n * replicates``. Replicate means are exact-integer ratios
    (values are integer-cast; pre-scale floats to fixed point). The CI
    is a type-1 percentile over the B-bounded sorted replicate means:
    ``lo = m_(floor(B*alpha/2)+1)``, ``hi = m_(ceil(B*(1-alpha/2)))``.

    Returns one row per group:
    ``(group..., mean_e6, lo_e6, hi_e6, n, replicates)``.
    """
    from halvesting_geometric_spark.functions import portable_hash64

    if hash_method == "portable":
        u = portable_hash64(*id_cols, "_r").alias("_u")
    elif hash_method == "xxhash64":
        # fold the signed 64-bit hash into the [0, 2^60) domain the
        # quantized thresholds assume
        u = F.pmod(
            F.xxhash64(*id_cols, "_r"), F.lit(1 << 60)
        ).alias("_u")
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(int(replicates) - 1))
    ).alias("_r")
    # NULL values are excluded from the resampled population so the CI
    # and the point estimate (count(value_col), NULL-free) describe the
    # same rows — otherwise NULL rows' Poisson weights enter _sw but
    # contribute nothing to _swx, biasing replicate means low.
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.col(value_col).cast("decimal(38,0)").alias("_x"),
            *id_cols,
            reps,
        )
        .select(*group_cols, "_x", "_r", u)
    )
    w = sum(
        F.when(F.col("_u") >= F.lit(t), 1).otherwise(0)
        for t in POISSON_CUM60
    ).alias("_w")
    per_rep = (
        base.select(*group_cols, "_r", "_x", w)
        .groupBy(*group_cols, "_r")
        .agg(
            F.sum(F.col("_x") * F.col("_w")).alias("_swx"),
            F.sum("_w").cast("long").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .select(
            *group_cols,
            (
                F.col("_swx").cast("double") / F.col("_sw").cast("double")
            ).alias("_m"),
        )
    )
    means = per_rep.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("_m")).alias("_ms")
    )
    b_eff = F.size("_ms")
    lo_i = (
        F.floor(b_eff.cast("double") * F.lit(alpha / 2.0)) + 1
    ).cast("int")
    hi_i = F.ceil(
        b_eff.cast("double") * F.lit(1.0 - alpha / 2.0)
    ).cast("int")
    overall = df.groupBy(*group_cols).agg(
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("_sx"),
        F.count(value_col).cast("long").alias("n"),
    )
    joined = (
        means.join(overall, list(group_cols))
        if group_cols
        else means.crossJoin(overall)
    )
    e6 = lambda c: F.floor(c * E6 + F.lit(0.5)).cast("long")  # noqa: E731
    return joined.select(
        *group_cols,
        e6(F.col("_sx").cast("double") / F.col("n").cast("double")).alias(
            "mean_e6"
        ),
        e6(F.element_at("_ms", lo_i)).alias("lo_e6"),
        e6(F.element_at("_ms", hi_i)).alias("hi_e6"),
        "n",
        F.lit(int(replicates)).cast("long").alias("replicates"),
    )
