"""Corpus diversity and lexical-statistics operators.

Engine-new (the reference's text surface stops at extraction; its data
pipeline has no corpus-level lexical statistics). A training-data
pipeline comparing candidate mixes needs corpus-level diversity signals:
distinct-n n-gram ratios (generation-diversity staple), Zipf rank-
frequency slope (natural-language sanity check — corrupted or templated
corpora flatten it), Heaps' vocabulary-growth checkpoints, unigram
entropy, and zlib compression ratio (boilerplate / repetition detector).

Cross-engine exactness: counts and ranks are exact integers; where a
transcendental is unavoidable (ln / log2 on term counts and ranks), it
is quantized PER TERM to an e9 BIGINT before any aggregation, so every
sum is order-free integer arithmetic and the final statistic is one
scalar double chain (the evalmetrics.dcg_discounts precedent, applied to
data-dependent logs: same input + same engines => same floor result,
which the oracle gate verifies end to end).

Scale: tokenization explodes once and aggregates to the VOCABULARY (state
bounded by distinct terms, not tokens). Zipf's rank assignment sorts the
vocabulary only — with ``scalable=True`` it uses
``plans.prefix.range_prefix`` instead of a single-task window. Heaps'
global token positions come from the same module's prefix sum over
per-document token counts — no global sort of the token stream.
Compression ratio is a per-batch Arrow kernel (zlib is not expressible
in Catalyst); everything else is pure DataFrame.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.prefix import range_prefix

E6 = 1_000_000
E9 = 1_000_000_000

__all__ = [
    "distinct_ngrams",
    "zipf_slope",
    "unigram_entropy",
    "heaps_checkpoints",
    "compression_ratio",
    "js_divergence",
    "unigram_cross_entropy",
]


def _ws_tokens(text_col: str):
    """Whitespace tokens of trimmed text, empties dropped (mirrors the
    DuckDB twin ``regexp_split_to_array(trim(text), '\\s+')``)."""
    return F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def distinct_ngrams(
    docs: DataFrame, text_col: str = "text", ns: Sequence[int] = (1, 2, 3)
) -> DataFrame:
    """Corpus distinct-n: distinct vs total n-grams for each ``n``.

    N-grams are built per document inside the array domain (sequence +
    slice + concat — no shuffle until the corpus aggregation), then
    counted with a vocabulary-bounded groupBy. ``ratio_e6`` is the
    type/token ratio ``floor(distinct * 1e6 / total + 0.5)``.

    Returns one row per n: ``(n, total_ngrams, distinct_ngrams,
    ratio_e6)``.
    """
    toks = docs.select(_ws_tokens(text_col).alias("_t")).filter(
        F.size("_t") > 0
    )
    outs = []
    for n in ns:
        # docs shorter than n contribute nothing (sequence() would
        # otherwise generate a DESCENDING range and fabricate grams)
        grams = toks.filter(F.size("_t") >= n).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_t"), i, n)
                    ),
                )
            ).alias("g")
        )
        per = grams.groupBy("g").agg(F.count("*").alias("c"))
        agg = per.agg(
            F.count("*").cast("long").alias("distinct_ngrams"),
            F.sum("c").cast("long").alias("total_ngrams"),
        )
        outs.append(
            agg.select(
                F.lit(n).cast("long").alias("n"),
                "total_ngrams",
                "distinct_ngrams",
                F.floor(
                    F.col("distinct_ngrams").cast("double")
                    * E6
                    / F.col("total_ngrams").cast("double")
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("ratio_e6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _term_counts(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(F.explode(_ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str = "text",
    scalable: bool = False,
    num_partitions: int = 64,
) -> DataFrame:
    """OLS slope of the log-log Zipf rank-frequency curve.

    Ranks are ordinal over ``(count DESC, term ASC)`` (deterministic
    ties). ``x = floor(ln(rank)*1e9+0.5)``, ``y = floor(ln(count)*1e9
    +0.5)`` — e9-quantized BIGINTs so the OLS moments are exact
    decimal(38,0) sums; slope and r^2 are one scalar double chain.
    Natural text lands near slope -1; templated corpora flatten.

    ``scalable=True`` assigns ranks with ``plans.prefix.range_prefix``
    instead of a single-task window over the vocabulary.

    Returns one row ``(slope_e6, r2_e6, n_terms)``.
    """
    tc = _term_counts(docs, text_col)
    order = [F.col("c").desc(), F.col("term").asc()]
    if not scalable:
        ranked = tc.withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order))
        )
    else:
        ranked = range_prefix(
            tc, order, rank_col="rnk", num_partitions=num_partitions
        ).withColumn("rnk", F.col("rnk") + 1)
    q = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * E9 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * E9 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = q.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n_d * sxy - sx * sy
    varx = n_d * sxx - sx * sx
    vary = n_d * syy - sy * sy
    return m.select(
        F.floor(cov / varx * E6 + F.lit(0.5)).cast("long").alias(
            "slope_e6"
        ),
        F.floor(cov * cov / (varx * vary) * E6 + F.lit(0.5))
        .cast("long")
        .alias("r2_e6"),
        F.col("n").cast("long").alias("n_terms"),
    )


def unigram_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram (Shannon) entropy in bits.

    ``H = log2(N) - (sum_t c_t * log2(c_t)) / N`` over term counts, with
    each term's ``log2(c)`` e9-quantized to a BIGINT before the sum
    (order-free exact aggregation; one scalar double chain at the end).

    Returns one row ``(entropy_e6, n_tokens, vocab)``.
    """
    tc = _term_counts(docs, text_col)
    agg = tc.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.floor(
                F.log2(F.col("c").cast("double")) * E9 + F.lit(0.5)
            ).cast("decimal(38,0)")
        ).alias("_s"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    n_d = F.col("n_tokens").cast("double")
    h = F.log2(n_d) - F.col("_s").cast("double") / (n_d * F.lit(float(E9)))
    return agg.select(
        F.floor(h * E6 + F.lit(0.5)).cast("long").alias("entropy_e6"),
        "n_tokens",
        "vocab",
    )


def heaps_checkpoints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: Sequence[int] = (1000, 2000, 5000, 10000, 20000, 50000),
) -> DataFrame:
    """Heaps'-law vocabulary growth: vocabulary size after the first k
    tokens of the corpus in ``id_col`` order.

    The global position of each token is its document's exclusive
    token-count prefix (``plans.prefix.range_prefix`` — no global sort)
    plus its in-document offset; a term's first occurrence is the
    MIN of its positions, and ``vocab(k)`` counts terms with first
    occurrence <= k. Exact integers end to end.

    Duplicate ``id_col`` rows are pre-aggregated into one token stream
    per id (rows ordered deterministically by text) so every id owns
    exactly one prefix offset — without this, duplicate rows would share
    one offset and their tokens would get overlapping global positions.
    With unique ids the aggregation is an identity.

    Returns one row per checkpoint: ``(tokens, vocab)``.
    """
    toks = (
        docs.select(
            F.col(id_col).alias("_v"),
            F.struct(
                F.col(text_col).alias("s"),
                F.coalesce(
                    _ws_tokens(text_col),
                    F.array().cast("array<string>"),
                ).alias("t"),
            ).alias("_st"),
        )
        .groupBy("_v")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list("_st")), lambda x: x["t"]
                )
            ).alias("_t")
        )
    )
    counts = toks.select("_v", F.size("_t").alias("tc")).groupBy("_v").agg(
        F.sum("tc").alias("tc")
    )
    pref = range_prefix(
        counts, ["_v"], sums=("tc",), num_partitions=64
    ).select(
        "_v", (F.col("cum_tc") - F.col("tc")).alias("_off")
    )
    pos = (
        toks.join(pref, "_v")
        .select(
            F.col("_off"),
            F.posexplode("_t").alias("_p", "term"),
        )
        .select(
            "term", (F.col("_off") + F.col("_p") + 1).alias("gpos")
        )
    )
    first = pos.groupBy("term").agg(F.min("gpos").alias("first_pos"))
    cps = docs.sparkSession.createDataFrame(
        [(int(c),) for c in checkpoints], "tokens long"
    )
    return (
        first.crossJoin(F.broadcast(cps))
        .groupBy("tokens")
        .agg(
            F.sum(
                F.when(F.col("first_pos") <= F.col("tokens"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("vocab")
        )
    )


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic boilerplate /
    repetition quality signal (highly compressible text is templated or
    repetitive; near-incompressible text is noise or ciphertext).

    zlib has no Catalyst expression, so this is an Arrow-batched
    mapInPandas kernel (whole pandas batch per call, zero per-row Python
    dispatch beyond the compress call itself, which is C). Deterministic:
    zlib output length at a fixed level is stable across runs/platforms
    for a given input. No SQL oracle exists (DuckDB has no zlib) — the
    test suite verifies against direct ``zlib.compress`` instead.

    Returns ``(id_col, raw_bytes, zlib_bytes, ratio_e6)`` with
    ``ratio_e6 = floor(raw * 1e6 / compressed + 0.5)``.
    """
    import pandas as pd

    base = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )

    def kernel(batches):
        import zlib

        for pdf in batches:
            raw = pdf["_text"].fillna("").str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "zlib_bytes": raw.map(
                        lambda b: len(zlib.compress(b, level))
                    ).astype("int64"),
                }
            )

    out = base.mapInPandas(
        kernel, schema="_id long, raw_bytes long, zlib_bytes long"
    )
    return out.select(
        F.col("_id").alias(id_col),
        "raw_bytes",
        "zlib_bytes",
        F.floor(
            F.col("raw_bytes").cast("double")
            * E6
            / F.col("zlib_bytes").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ratio_e6"),
    )


def _term_hist2(
    docs_a: DataFrame, docs_b: DataFrame, text_col: str
) -> DataFrame:
    """Full-outer joined term histograms ``(term, ca, cb)``."""
    ta = _term_counts(docs_a, text_col).withColumnRenamed("c", "ca")
    tb = _term_counts(docs_b, text_col).withColumnRenamed("c", "cb")
    return ta.join(tb, "term", "full_outer").select(
        "term",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )


def js_divergence(
    docs_a: DataFrame, docs_b: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Jensen-Shannon divergence (bits) between two corpora's unigram
    distributions — the standard bounded-[0,1] "how different are these
    two data mixes" measure (symmetric, defined even on disjoint
    vocabularies, unlike KL).

    ``JSD = 0.5*sum_t pa*log2(pa/m) + 0.5*sum_t pb*log2(pb/m)`` with
    ``m = (pa+pb)/2``, computed per term with a fixed chain of correctly-
    rounded double ops and quantized PER TERM to an e12 BIGINT before the
    order-free integer sum (floor bias < |vocab| * 1e-12, invisible at
    the e6 output). State is vocabulary-bounded: one full-outer join of
    the two term histograms.

    Returns one row ``(jsd_e6, n_a, n_b, vocab)``.
    """
    h = _term_hist2(docs_a, docs_b, text_col)
    totals = h.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    j = h.crossJoin(F.broadcast(totals))
    pa = F.col("ca").cast("double") / F.col("n_a").cast("double")
    pb = F.col("cb").cast("double") / F.col("n_b").cast("double")
    m = (pa + pb) / 2
    contrib = F.when(F.col("ca") > 0, pa * F.log2(pa / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, pb * F.log2(pb / m)).otherwise(F.lit(0.0))
    q = j.select(
        F.floor(contrib * F.lit(1e12) + F.lit(0.5))
        .cast("long")
        .alias("c12"),
        "n_a",
        "n_b",
    )
    agg = q.agg(
        F.sum("c12").alias("_s"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.count("*").cast("long").alias("vocab"),
    )
    return agg.select(
        F.floor(
            F.col("_s").cast("double") / F.lit(2e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("jsd_e6"),
        "n_a",
        "n_b",
        "vocab",
    )


def unigram_cross_entropy(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    k_smooth_e6: int = 1_000_000,
) -> DataFrame:
    """Cross-entropy (bits/token) of the eval corpus under the train
    corpus's add-k-smoothed unigram model — the cheap "how surprised is
    a model of mix A by mix B" score (perplexity = 2^H) used to rank
    candidate data sources against a target distribution.

    ``H = -sum_t (cb_t/n_b) * log2((ca_t + k) / (n_a + k*V))`` over the
    UNION vocabulary V (eval-only terms hit the smoothed floor), with
    ``k = k_smooth_e6/1e6`` (default 1.0 = Laplace). Per-term e12
    quantization before the integer sum, vocabulary-bounded state.

    Returns one row ``(ce_bits_e6, oov_rate_e6, n_eval_tokens, vocab)``.
    """
    h = _term_hist2(train_docs, eval_docs, text_col)
    totals = h.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("v"),
    )
    j = h.crossJoin(F.broadcast(totals))
    k = F.lit(k_smooth_e6 / 1e6)
    p_smooth = (F.col("ca").cast("double") + k) / (
        F.col("n_a").cast("double") + k * F.col("v").cast("double")
    )
    qb = F.col("cb").cast("double") / F.col("n_b").cast("double")
    contrib = F.when(
        F.col("cb") > 0, -qb * F.log2(p_smooth)
    ).otherwise(F.lit(0.0))
    q = j.select(
        F.floor(contrib * F.lit(1e12) + F.lit(0.5))
        .cast("long")
        .alias("c12"),
        F.when((F.col("cb") > 0) & (F.col("ca") == 0), F.col("cb"))
        .otherwise(F.lit(0))
        .alias("oov"),
        "n_b",
        "v",
    )
    agg = q.agg(
        F.sum("c12").alias("_s"),
        F.sum("oov").cast("long").alias("_oov"),
        F.max("n_b").alias("n_eval_tokens"),
        F.max("v").alias("vocab"),
    )
    return agg.select(
        F.floor(
            F.col("_s").cast("double") / F.lit(1e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("ce_bits_e6"),
        F.floor(
            F.col("_oov").cast("double")
            * F.lit(1e6)
            / F.col("n_eval_tokens").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("oov_rate_e6"),
        "n_eval_tokens",
        "vocab",
    )
