"""Whole-graph structural metrics: reciprocity and rich-club coefficient.

Engine-new analytics (the reference — see
``/root/reference/halvesting_geometric/utils/data/link_prediction_dataset.py``
— builds the citation graph but computes no global structure metrics; these
extend the same edge-table surface the other operators consume).

Both are single-pass aggregations over the edge table:

- :func:`reciprocity` — fraction of directed edges (self-loops excluded)
  whose reverse edge also exists.  One equi self-join on (src, dst) keys +
  two counts; the join shuffles on the composite key, so it scales as an
  ordinary hash join (no broadcast of the full edge set, no driver state).
- :func:`rich_club` — for a degree threshold ``k``: the number of vertices
  with undirected degree > k, the number of undirected edges among them, and
  the normalized density phi(k) = 2·E_k / (N_k·(N_k−1)).  Two hash
  aggregations (degree count, edge count) + two semi-joins; the "rich" vertex
  set is usually tiny on power-law graphs, but the plan never assumes it —
  semi-joins degrade gracefully to shuffle joins when it is not.

Outputs are single rows of exact longs (ratios exported as round-half-up
e6 fixed-point), so the DuckDB gate twins are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.evalmetrics import _avg_rank2
from halvesting_geometric_spark.operators.graph import canonical_edges
from halvesting_geometric_spark.plans.prefix import range_prefix


def _e6(num: F.Column | str, den: F.Column | str) -> F.Column:
    """Round-half-up fixed-point ratio: floor(1e6·num/den + 0.5), 0 on 0/0."""
    num_c = F.col(num) if isinstance(num, str) else num
    den_c = F.col(den) if isinstance(den, str) else den
    return F.when(den_c > 0, F.floor(num_c * 1_000_000.0 / den_c + F.lit(0.5)))\
        .otherwise(F.lit(0)).cast("long")


def reciprocity(edges: DataFrame) -> DataFrame:
    """Edge reciprocity of the directed simple graph.

    Self-loops are excluded and duplicate (src, dst) rows collapsed first, so
    the metric is well-defined regardless of upstream dedup guarantees.
    Returns ONE row ``(mutual, total, reciprocity_e6)`` — ``mutual`` counts
    directed edges whose reverse exists (a mutual pair contributes 2).
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count("*").alias("total"))
        .crossJoin(F.broadcast(mutual.agg(F.count("*").alias("mutual"))))
        .select(
            F.col("mutual").cast("long").alias("mutual"),
            F.col("total").cast("long").alias("total"),
            _e6("mutual", "total").alias("reciprocity_e6"),
        )
    )


def rich_club(edges: DataFrame, k: int) -> DataFrame:
    """Rich-club coefficient phi(k) on the undirected simple graph.

    ``N_k`` = vertices with undirected degree > k; ``E_k`` = undirected edges
    with BOTH endpoints in that set; phi(k) = 2·E_k / (N_k·(N_k−1)).
    Returns ONE row ``(n_rich, e_rich, phi_e6)``; phi_e6 is 0 when N_k < 2.

    Scale shape: one degree aggregation over the canonical edge table, one
    filter, two semi-joins keyed on single vertex ids — no step materializes
    more than the rich subgraph's edges.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    canon = canonical_edges(edges)
    deg = (
        canon.select(F.col("src").alias("v"))
        .unionByName(canon.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    rich = deg.filter(F.col("deg") > k).select("v")
    e_rich = (
        canon.join(rich.select(F.col("v").alias("src")), "src", "left_semi")
        .join(rich.select(F.col("v").alias("dst")), "dst", "left_semi")
    )
    return (
        rich.agg(F.count("*").alias("n_rich"))
        .crossJoin(F.broadcast(e_rich.agg(F.count("*").alias("e_rich"))))
        .select(
            F.col("n_rich").cast("long").alias("n_rich"),
            F.col("e_rich").cast("long").alias("e_rich"),
            _e6(
                F.col("e_rich") * 2.0,
                F.col("n_rich").cast("double")
                * (F.col("n_rich").cast("double") - 1.0),
            ).alias("phi_e6"),
        )
    )


def auroc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: tuple[str, ...] = (),
    scalable: bool = False,
    buckets: int = 1 << 12,
) -> DataFrame:
    """Exact AUROC (area under the ROC curve) with proper tie handling.

    The reference's quality metric (BinaryAUROC,
    /root/reference/halvesting_geometric/modules/modeling_link_prediction.py:112,158,183-185)
    as a DataFrame aggregation: AUROC = P(s_pos > s_neg) + 0.5·P(s_pos =
    s_neg) over all positive/negative pairs — computed WITHOUT forming the
    |P|·|N| pair set, via the rank-sum (Mann-Whitney U) identity on the
    per-distinct-score histogram:

        AUC = sum_s [ p_s · N_below(s) + p_s · n_s / 2 ] / (P · N)

    ``scalable=False`` (default — validation scale) takes the prefix sum
    ``N_below`` with an unpartitioned window over DISTINCT scores: tiny
    state for discretized scores, a single-task sort otherwise.
    ``scalable=True`` replaces the global window with
    ``plans.prefix.range_prefix`` over ``buckets`` range partitions of the
    (group, score) axis — no global sort, no single-task window.

    Returns one row (group..., auroc double, n_pos, n_neg). Degenerate
    groups (no positives or no negatives) return NULL auroc.
    """
    s, y = F.col(score_col), F.col(label_col).cast("int")
    hist = (
        scored.select(*group_cols, s.alias("_s"), y.alias("_y"))
        .groupBy(*group_cols, "_s")
        .agg(
            F.sum("_y").alias("p_s"),
            F.sum(1 - F.col("_y")).alias("n_s"),
        )
    )
    if not scalable:
        w = (
            Window.partitionBy(*group_cols)
            .orderBy("_s")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        hist = hist.withColumn(
            "n_below", F.coalesce(F.sum("n_s").over(w), F.lit(0))
        )
    else:
        hist = range_prefix(
            hist, ["_s"], sums=("n_s",), groups=group_cols,
            num_partitions=buckets,
        ).withColumn("n_below", F.col("cum_n_s") - F.col("n_s"))
    # decimal accumulators: p_s·n_below can exceed 2^63 at extreme scale
    # and ANSI mode would throw on a long sum; decimal(38,0) stays exact
    out = hist.groupBy(*group_cols).agg(
        F.sum(
            F.col("p_s").cast("decimal(38,0)") * F.col("n_below")
        ).alias("_wins"),
        F.sum(
            F.col("p_s").cast("decimal(38,0)") * F.col("n_s")
        ).alias("_ties"),
        F.sum("p_s").alias("n_pos"),
        F.sum("n_s").alias("n_neg"),
    )
    auc = (
        F.col("_wins").cast("double")
        + F.col("_ties").cast("double") / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return out.select(
        *group_cols,
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc
        ).alias("auroc"),
        "n_pos",
        "n_neg",
    )


def triangle_significance(edges: DataFrame) -> DataFrame:
    """Observed triangle count vs the configuration-model null expectation
    — the motif-significance ratio of Milo et al. (Science 2002), with the
    null's closed form instead of graph randomization.

    For a degree sequence with ``s1 = Σd`` and ``s2 = Σd(d−1)`` over the
    simple undirected graph, the expected triangle count of the
    configuration model is ``E[T] = s2³ / (6·s1³)`` (clustering
    ``s2²/s1³`` times ``s2/6`` wedges / 3). A ratio ≫ 1e6 (e6 fixed
    point) says the corpus graph is far more clustered than its degree
    sequence explains — the standard "is this structure real?" check
    before trusting community or triangle analytics.

    One degree aggregation (two long moments) + the engine's exact
    triangle count; the final ratio is a single IEEE expression over
    exact longs, so the DuckDB twin matches bit-for-bit. Returns 1 row:
    (triangles, s1, s2, expected_e6, ratio_e6); ratio is null for a
    degenerate graph (s1 == 0 or E[T] == 0).
    """
    from halvesting_geometric_spark.operators.triangles import triangle_count

    canon = canonical_edges(edges)
    sym = canon.select("src", "dst").unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    mom = deg.agg(
        F.sum("d").cast("long").alias("s1"),
        F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("s2"),
    )
    tri = triangle_count(edges).total
    exp_d = (
        F.col("s2").cast("double")
        * F.col("s2").cast("double")
        * F.col("s2").cast("double")
        / (
            F.lit(6.0)
            * F.col("s1").cast("double")
            * F.col("s1").cast("double")
            * F.col("s1").cast("double")
        )
    )
    return mom.select(
        F.lit(int(tri)).cast("long").alias("triangles"),
        "s1",
        "s2",
        F.when(
            F.col("s1") > 0, F.floor(exp_d * 1_000_000 + F.lit(0.5))
        ).cast("long").alias("expected_e6"),
        F.when(
            (F.col("s1") > 0) & (F.col("s2") > 0),
            F.floor(F.lit(float(int(tri))) / exp_d * 1_000_000 + F.lit(0.5)),
        ).cast("long").alias("ratio_e6"),
    )


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the simple undirected graph.

    ``labels``: (vertex_id, label) — any partition of the vertices (label
    propagation, Louvain, components). Returns one row per label:
    (label, members, volume, cut, phi_e6) where, on the canonical edge set,
    volume = sum of member degrees, cut = edges with exactly one endpoint in
    the community, and phi = cut / min(volume, 2m − volume) — exported as
    round-half-up e6 fixed-point, 0 when the denominator is 0 (so the
    whole-graph community and empty-volume communities report 0, the
    conventional boundary value).

    Scale shape: two hash joins label the edge endpoints, then everything is
    map-side-combined groupBy counts keyed on label; the single scalar m
    rides in on a broadcast cross-join. Exact integer arithmetic end-to-end
    except the one e6 division, so the DuckDB twin is bit-exact.
    """
    canon = canonical_edges(edges)
    lab = labels.select("vertex_id", "label")
    te = (
        canon.join(
            lab.select(
                F.col("vertex_id").alias("src"), F.col("label").alias("la")
            ),
            "src",
        )
        .join(
            lab.select(
                F.col("vertex_id").alias("dst"), F.col("label").alias("lb")
            ),
            "dst",
        )
        .persist()
    )
    vol = (
        te.select(F.col("la").alias("label"))
        .unionByName(te.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count("*").alias("volume"))
    )
    cut_edges = te.filter(F.col("la") != F.col("lb"))
    cut = (
        cut_edges.select(F.col("la").alias("label"))
        .unionByName(cut_edges.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count("*").alias("cut"))
    )
    members = lab.groupBy("label").agg(F.count("*").alias("members"))
    m_df = te.agg(F.count("*").alias("_m"))
    out = (
        members.join(vol, "label", "left")
        .join(cut, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "label",
            F.col("members").cast("long").alias("members"),
            F.coalesce("volume", F.lit(0)).cast("long").alias("volume"),
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            _e6(
                F.coalesce("cut", F.lit(0)),
                F.least(
                    F.coalesce("volume", F.lit(0)),
                    2 * F.col("_m") - F.coalesce("volume", F.lit(0)),
                ),
            ).alias("phi_e6"),
        )
    )
    # Pin the result, then release the labeled-edge cache so repeated calls
    # in one session don't accumulate persisted tables (matches the
    # localCheckpoint+unpersist pattern of structural_holes).
    out = out.localCheckpoint(eager=True)
    te.unpersist()
    return out



def powerlaw_alpha(
    values: DataFrame, value_col: str = "value", xmin: int = 1
) -> DataFrame:
    """Discrete power-law exponent MLE (Clauset-Shalizi-Newman approx).

    ``alpha = 1 + n / sum_i ln(x_i / (xmin - 0.5))`` over the tail ``x >=
    xmin``, with standard error ``sigma = (alpha - 1) / sqrt(n)`` — the
    standard scale-free-degree-distribution fit (Clauset et al. 2009,
    eq. 3.7), applied to the citation graph's degree table. The
    reference's HAL graphs are power-law by construction (SURVEY §1);
    this makes the exponent a first-class one-row aggregate.

    Cross-engine exactness: the log is quantized PER DISTINCT VALUE to an
    e9 BIGINT on the value histogram, so the sum is order-free exact
    integer arithmetic and alpha/sigma are one scalar double chain (the
    evalmetrics.dcg_discounts precedent).

    Scale: one shuffle to the value histogram (state = distinct values),
    then a single-row aggregate.

    Returns one row ``(alpha_e6, sigma_e6, n_tail, xmin)``.
    """
    hist = (
        values.select(F.col(value_col).cast("long").alias("_x"))
        .filter(F.col("_x") >= xmin)
        .groupBy("_x")
        .agg(F.count("*").cast("long").alias("c"))
    )
    denom = float(xmin) - 0.5
    le9 = F.floor(
        F.log(F.col("_x").cast("double") / F.lit(denom)) * 1_000_000_000
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    agg = hist.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * le9).alias("_s"),
        F.sum("c").cast("long").alias("n_tail"),
    )
    n_d = F.col("n_tail").cast("double")
    alpha = 1 + n_d / (
        F.col("_s").cast("double") / F.lit(1_000_000_000.0)
    )
    sigma = (alpha - 1) / F.sqrt(n_d)
    return agg.select(
        F.floor(alpha * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "alpha_e6"
        ),
        F.floor(sigma * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "sigma_e6"
        ),
        "n_tail",
        F.lit(int(xmin)).cast("long").alias("xmin"),
    )


def gini_coefficient(
    values: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Exact Gini concentration coefficient of a non-negative value
    distribution (e.g. citation in-degrees — "do 1% of the papers absorb
    90% of the citations?").

    Uses the sorted-rank identity ``G = (2 * sum_i i*x_i) / (n * sum x)
    - (n + 1) / n`` — tie-order-invariant because a tie block's
    position sum equals ``count * midrank``, so the engine's exact
    doubled-midrank machinery (evalmetrics._avg_rank2 over the one value
    histogram, no global sort) gives ``2 * sum_i i*x_i = sum_v c_v * x_v
    * r2_v`` exactly, as decimal(38,0) integer arithmetic. One scalar
    double chain at the end.

    Returns one row ``(gini_e6, n, total)``.
    """
    hist = (
        values.select(F.col(value_col).cast("long").alias("_x"))
        .filter(F.col("_x") >= 0)
        .groupBy("_x")
        .agg(F.count("*").cast("long").alias("c"))
    )
    j = _avg_rank2(hist, "_x", "c")
    agg = j.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("_x")
            * F.col("r2")
        ).alias("_s2"),
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("_x")
        ).alias("_tot"),
    )
    n_d = F.col("n").cast("double")
    g = F.col("_s2").cast("double") / (
        n_d * F.col("_tot").cast("double")
    ) - (n_d + 1) / n_d
    return agg.select(
        F.floor(g * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "gini_e6"
        ),
        "n",
        F.col("_tot").cast("long").alias("total"),
    )


def degree_mixing_matrix(edges: DataFrame) -> DataFrame:
    """Joint degree-class distribution of the edge table: every directed
    edge bucketed by ``(floor(log2(out_deg(src))),
    floor(log2(in_deg(dst))))`` — the log-binned mixing matrix behind
    assortativity ("do hubs cite hubs?"), readable at a glance where the
    scalar coefficient is not.

    Exactness: degree classes are ``floor(log2(d))`` of exact integer
    degrees — both engines compute log2 of the same integer-valued
    double, and the floor cannot misround for any degree below ~2^45
    (the true log2 sits >= 3e-4 from an integer at graph-realistic
    degrees; only astronomically large near-power-of-two degrees
    approach the half-ulp boundary). Counts are exact longs;
    ``frac_e6`` is one scalar division.

    Scale: two degree aggregations + two broadcast-eligible joins of the
    class tables back to the edge list, then a K x K bounded groupBy
    (K ~ log2(max degree) <= ~40 classes).

    Returns ``(src_class, dst_class, cnt, frac_e6)``.
    """
    outd = edges.groupBy(F.col("src").alias("_v")).agg(
        F.count("*").alias("_d")
    )
    ind = edges.groupBy(F.col("dst").alias("_v")).agg(
        F.count("*").alias("_d")
    )
    cls = lambda d: F.floor(  # noqa: E731
        F.log2(d.cast("double"))
    ).cast("long")
    e = (
        edges.join(
            outd.select(
                F.col("_v").alias("src"), cls(F.col("_d")).alias("src_class")
            ),
            "src",
        )
        .join(
            ind.select(
                F.col("_v").alias("dst"), cls(F.col("_d")).alias("dst_class")
            ),
            "dst",
        )
        .groupBy("src_class", "dst_class")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    total = edges.count()
    return e.select(
        "src_class",
        "dst_class",
        "cnt",
        F.floor(
            F.col("cnt").cast("double") * 1_000_000 / F.lit(float(total))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("frac_e6"),
    )


def herfindahl_index(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration of ``cat_col`` within each
    group — the "is this corpus slice dominated by one source/domain"
    governance metric (HHI = sum of squared shares; 1/K uniform .. 1
    monopoly).

    Exact: shares never materialize — ``HHI = sum c_i^2 / n^2`` with
    both sums exact decimal(38,0); one scalar double division to e6.
    State per group is category-cardinality-bounded.

    Returns ``(group_col, hhi_e6, n, n_cats)``.
    """
    cc = (
        df.select(group_col, F.col(cat_col).alias("_k"))
        .filter(F.col("_k").isNotNull())
        .groupBy(group_col, "_k")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = cc.groupBy(group_col).agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c")
        ).alias("_s2"),
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cats"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        group_col,
        F.floor(
            F.col("_s2").cast("double") / (n_d * n_d) * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("hhi_e6"),
        "n",
        "n_cats",
    )
