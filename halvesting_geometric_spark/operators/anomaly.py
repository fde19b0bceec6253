"""Anomaly and change-point detection over event streams.

Engine-new analytic surface (the reference computes no anomaly
statistics; the nearest shape is the per-domain metadata rollups in
``/root/reference/halvesting_geometric/utils/data/link_prediction_metadata.py``).
Both operators here are built for the 100 TB shape: no per-row global
sort, no driver-side state, per-group windows whose width is bounded by
time-bucket cardinality (CUSUM) or distinct-value cardinality (MAD), and
all detection arithmetic either exact-integer or single-expression IEEE
so the DuckDB oracle reproduces results bit-for-bit.

``robust_anomalies``
    Per-group robust z-score: ``rz = c * (x - median) / MAD`` where MAD
    is the median absolute deviation and ``c = 0.6745`` rescales MAD to
    a normal-consistent sigma estimate (Iglewicz & Hoaglin, "How to
    Detect and Handle Outliers", 1993). Medians are exact type-1
    quantiles from ``group_quantiles`` — two distinct-value two-phase
    passes (one for the median, one for the deviation median), each a
    plain shuffle + bounded window; the tiny per-group stats tables are
    broadcast back to the fact rows, so the fact side is never shuffled.

``cusum_changepoints``
    One-sided tabular CUSUM (Page 1954) over per-(group, bucket) event
    counts. The textbook recursion ``S_i = max(0, S_{i-1} + d_i)`` is
    not a window aggregate, but it has a closed form over prefix sums:
    ``S_i = P_i - min(0, min_{j<=i} P_j)`` with ``P_i = sum_{k<=i} d_k``
    — two unbounded-preceding windows, no recursion, no iteration.
    All arithmetic runs in e6 fixed-point integers (the reference mean
    is an integer division of long sums), so cumulative results are
    exact and engine-portable, never drifting the way reordered float
    summation would.

Scale notes: the CUSUM window is per group ordered by time bucket —
state per group is bounded by bucket cardinality (e.g. hours), the
standard time-series window shape used by sessionize/burst_windows.
MAD's windows run over DISTINCT values per group (see quantiles.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.quantiles import group_quantiles

E6 = 1_000_000


def robust_anomalies(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
    consistency: float = 0.6745,
) -> DataFrame:
    """Flag rows whose robust z-score exceeds ``threshold`` within group.

    Returns the non-null-valued input rows with three added columns:
    ``med`` (group median), ``rz_e6`` (robust z-score in e6 fixed point,
    null when MAD == 0 — a degenerate group where more than half the
    values tie), and ``is_anomaly``. Median/MAD are exact type-1
    quantiles, so every reported statistic is an actual data value.
    """
    rows = df.filter(F.col(value_col).isNotNull())
    med = (
        group_quantiles(rows, group_col, value_col, (0.5,))
        .select(group_col, F.col("q_50").alias("med"))
    )
    dev = rows.join(F.broadcast(med), group_col).withColumn(
        "_absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = (
        group_quantiles(dev, group_col, "_absdev", (0.5,))
        .select(group_col, F.col("q_50").alias("mad"))
    )
    scored = dev.join(F.broadcast(mad), group_col)
    rz = (
        F.lit(float(consistency))
        * (F.col(value_col) - F.col("med"))
        / F.col("mad")
    )
    rz_e6 = F.when(
        F.col("mad") > 0, F.floor(rz * E6 + F.lit(0.5)).cast("long")
    )
    return (
        scored.withColumn("rz_e6", rz_e6)
        .withColumn(
            "is_anomaly",
            F.coalesce(
                F.abs(F.col("rz_e6")) > int(threshold * E6), F.lit(False)
            ),
        )
        .drop("_absdev", "mad")
    )


def cusum_changepoints(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
    slack: float = 0.0,
    threshold: float = 10.0,
) -> DataFrame:
    """One-sided CUSUM alarm over per-(group, bucket) event counts.

    ``slack`` (allowance k) and ``threshold`` (decision interval h) are
    in count units. The in-control reference is each group's mean bucket
    count, computed as an exact integer division in e6 fixed point; the
    drift ``d_i = n_i*1e6 - ref_e6 - slack_e6`` and the closed-form
    ``S_i = P_i - min(0, running_min(P_i))`` are therefore exact longs.
    Returns one row per observed (group, bucket): ``(group, bucket_ts,
    n, cusum_e6, alarm)`` where ``alarm = cusum_e6 > threshold*1e6``.
    """
    slack_e6 = int(round(slack * E6))
    h_e6 = int(round(threshold * E6))
    hourly = (
        events.select(group_col, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
        .groupBy(group_col, "bucket_ts")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ref = hourly.groupBy(group_col).agg(
        F.expr(f"(sum(n) * {E6}) div count(*)").cast("long").alias("ref_e6")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = hourly.join(F.broadcast(ref), group_col).withColumn(
        "_d", F.col("n") * E6 - F.col("ref_e6") - F.lit(slack_e6)
    )
    p = d.withColumn("_p", F.sum("_d").over(w)).withColumn(
        "_pmin", F.min("_p").over(w)
    )
    return p.select(
        group_col,
        "bucket_ts",
        "n",
        (F.col("_p") - F.least(F.col("_pmin"), F.lit(0))).alias("cusum_e6"),
        (
            (F.col("_p") - F.least(F.col("_pmin"), F.lit(0))) > h_e6
        ).alias("alarm"),
    )


def acf_counts(
    events: DataFrame,
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    lags: tuple[int, ...] = (1, 2, 3, 6, 12, 24),
) -> DataFrame:
    """Autocorrelation of the event-count time series at fixed lags —
    the periodicity detector (a daily cycle shows as a peak at lag 24 on
    hourly buckets; its absence in machine-generated traffic is itself a
    signal).

    Events reduce to per-bucket counts (one shuffle, state = bucket
    cardinality); the axis is DENSIFIED over [min, max] so silent
    buckets count as zero (sequence + explode — bounded by the time
    span, which is calendar-bounded no matter the row count). Lagged
    pairs come from ``lead(c, k)`` over the bucket order — a single
    ordered window whose partition is the bucket axis, never the raw
    events. Pearson moments are exact decimal integer sums; one scalar
    double chain per lag.

    Returns one row per lag: ``(lag, r_e6, n_pairs)`` (``r_e6`` NULL
    for degenerate/zero-variance windows).
    """
    b = (
        events.select(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)
            )
            .cast("long")
            .alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    span = b.agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    ).first()
    dense = (
        events.sparkSession.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(span["lo"]), F.lit(span["hi"]))
            ).alias("b")
        )
        .join(b, "b", "left")
        .select("b", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = Window.orderBy("b")
    led = dense.select(
        "c",
        *[F.lead("c", k).over(w).alias(f"c{k}") for k in lags],
    )
    outs = []
    for k in lags:
        pairs = led.filter(F.col(f"c{k}").isNotNull()).select(
            F.col("c").cast("decimal(38,0)").alias("x"),
            F.col(f"c{k}").cast("decimal(38,0)").alias("y"),
        )
        m = pairs.agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        n_d = F.col("n").cast("double")
        sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
        cov = n_d * sxy - sx * sy
        varx = n_d * sxx - sx * sx
        vary = n_d * syy - sy * sy
        outs.append(
            m.select(
                F.lit(int(k)).cast("long").alias("lag"),
                F.when(
                    (varx > 0) & (vary > 0),
                    F.floor(
                        cov / F.sqrt(varx * vary) * 1_000_000
                        + F.lit(0.5)
                    ).cast("long"),
                ).alias("r_e6"),
                F.col("n").cast("long").alias("n_pairs"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
