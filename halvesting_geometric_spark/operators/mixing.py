"""Training-data mixing and context chunking — the corpus-assembly step of
an LLM data pipeline (domain/language re-weighting as in public recipes:
The Pile, Gopher, LLaMA data mixtures; chunking as in every long-context
training/RAG pipeline).

- :func:`budget_mix` — deterministic budgeted downsampling per group: each
  group (language, domain, source …) gets a token budget; the group's keep
  rate is ``min(1, budget / group_tokens)`` and membership is decided by an
  engine-portable hash of the document id, so the sample is reproducible
  across runs, engines, AND cluster sizes (no RNG state, no per-partition
  dependence).  Two aggregations + one broadcast-joined filter — nothing
  materializes beyond one row per group before the final filter.
- :func:`chunk_tokens` — fixed-size whitespace-token windows with overlap
  via pure array arithmetic (split → sequence of starts → slice per start →
  explode): one narrow map stage, no shuffle at all, no Python.

Rates are integer parts-per-million and the hash is
``functions.portable_hash64``, so the DuckDB correctness twin reproduces
every kept row bit-for-bit (same reason the edge-split gate is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.functions import portable_hash64
from halvesting_geometric_spark.plans.prefix import range_prefix

_PPM = 1_000_000


def budget_mix(
    docs: DataFrame,
    group_col: str,
    token_budget: int,
    budgets: dict[str, int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Sampled corpus meeting per-group token budgets (in expectation).

    ``token_budget`` is the default per-group budget; ``budgets`` overrides
    it for specific group values.  Returns the kept rows of ``docs`` plus
    ``(group_tokens, rate_ppm)`` — the group's total whitespace-token count
    and its keep rate in parts-per-million (exact integer division, so the
    oracle twin matches on boundaries).  A group under budget keeps all its
    rows (rate 1e6).
    """
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    per_group = (
        docs.select(F.col(group_col).alias("_g"), n_tok.alias("_t"))
        .groupBy("_g")
        .agg(F.sum("_t").alias("group_tokens"))
    )
    if budgets:
        budget_expr = F.coalesce(
            *[
                F.when(F.col("_g") == F.lit(g), F.lit(int(b)))
                for g, b in sorted(budgets.items())
            ],
            F.lit(int(token_budget)),
        )
    else:
        budget_expr = F.lit(int(token_budget))
    rates = per_group.select(
        "_g",
        "group_tokens",
        F.least(
            F.lit(_PPM),
            F.floor(
                # cast BEFORE the multiply: Spark 4 runs ANSI mode, and
                # budget·1e6 overflows int32 for any budget > 2147
                (budget_expr.cast("long") * F.lit(_PPM).cast("long"))
                / F.col("group_tokens")
            ),
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return (
        docs.join(
            F.broadcast(rates),
            docs[group_col] == rates["_g"],
        )
        .filter(
            F.pmod(portable_hash64(F.col(id_col), seed=seed), F.lit(_PPM))
            < F.col("rate_ppm")
        )
        .drop("_g")
    )


def chunk_tokens(
    docs: DataFrame,
    chunk_size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_idx, n_tokens, chunk) fixed-size whitespace-token windows.

    Window k starts at token ``1 + k·(chunk_size − overlap)`` (1-based) for
    every start ≤ the document's token count — the final window may be
    shorter than ``chunk_size`` (never empty).  Pure array expressions:
    split → sequence → per-start slice+join → posexplode; no shuffle.
    """
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must be in [0, chunk_size): {overlap} vs {chunk_size}"
        )
    stride = chunk_size - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_size))
    )
    return (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "chunk"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(F.split(F.col("chunk"), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
            "chunk",
        )
    )


def pack_sequences(
    docs: DataFrame,
    bin_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    scalable: bool = False,
    buckets: int = 1024,
) -> DataFrame:
    """GPT-style sequence packing: the pretraining corpus-assembly step
    that concatenates documents in a deterministic order (ascending
    ``id_col``) and splits the resulting token stream into fixed-size
    training bins of ``bin_size`` tokens, documents crossing bin
    boundaries (public recipes: GPT-2/3, LLaMA pretraining pack exactly
    this way — concat + chunk, no padding waste).

    Returns one row per (document, bin) span:
    (doc_id, n_tokens, bin_id, bin_offset, len_in_bin, doc_offset) —
    ``bin_offset`` where the span starts inside the bin, ``doc_offset``
    where it starts inside the document; all exact BIGINT arithmetic
    (the whole layout is a closed form over one exclusive prefix sum, so
    the DuckDB gate twin is bit-identical). Empty documents are dropped;
    tokens are whitespace tokens (same tokenizer as :func:`budget_mix` /
    the ``token_count`` gate). Every bin except the last is exactly full:
    sum(len_in_bin) per bin == bin_size.

    ``scalable=False`` (validation scale) takes the prefix sum with one
    unpartitioned window — a single-task sort. ``scalable=True`` takes it
    with ``plans.prefix.range_prefix`` over ``buckets`` range partitions
    of the id — no global sort, no single-task window, and the output is
    IDENTICAL.
    """
    if bin_size < 1:
        raise ValueError(f"bin_size must be >= 1, got {bin_size}")
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("_id"), n_tok.alias("_n")
    )
    if not scalable:
        w = Window.orderBy("_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        pref = base.withColumn(
            "_s", F.coalesce(F.sum("_n").over(w), F.lit(0))
        )
    else:
        pref = range_prefix(
            base, ["_id"], sums=("_n",), num_partitions=buckets
        ).withColumn("_s", F.col("cum__n") - F.col("_n"))
    L = F.lit(int(bin_size)).cast("long")
    spans = pref.select(
        "_id",
        "_n",
        "_s",
        F.explode(
            F.sequence(
                F.expr(f"_s div {int(bin_size)}"),
                F.expr(f"(_s + _n - 1) div {int(bin_size)}"),
            )
        ).alias("bin_id"),
    )
    lo = F.greatest(F.col("_s"), F.col("bin_id") * L)
    hi = F.least(F.col("_s") + F.col("_n"), (F.col("bin_id") + 1) * L)
    return spans.select(
        F.col("_id").alias(id_col),
        F.col("_n").alias("n_tokens"),
        F.col("bin_id").cast("long").alias("bin_id"),
        (lo - F.col("bin_id") * L).cast("long").alias("bin_offset"),
        (hi - lo).cast("long").alias("len_in_bin"),
        (lo - F.col("_s")).cast("long").alias("doc_offset"),
    )


def hashed_ngram_features(
    df: DataFrame,
    buckets: int,
    use_bigrams: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "portable",
) -> DataFrame:
    """(id, bucket) per feature OCCURRENCE: whitespace tokens (lowercased)
    and, with ``use_bigrams``, space-joined token bigrams, hashed into
    ``buckets`` buckets — the shared feature map of the DSIR scorer and the
    hashed linear classifier. Pure array arithmetic (split → transform/
    slice → explode → pmod(hash)), one narrow map stage, no Python."""
    from halvesting_geometric_spark.operators.dedup import _hash64

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    parts = [toks]
    if use_bigrams:
        bi = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        parts.append(bi)
    allf = F.concat(*parts) if len(parts) > 1 else parts[0]
    return (
        df.select(F.col(id_col).alias("id"), F.explode(allf).alias("_f"))
        .filter(F.col("_f") != "")
        .select(
            "id",
            F.pmod(_hash64(hash_method, F.col("_f"), 0), F.lit(buckets)).alias(
                "bucket"
            ),
        )
    )


def dsir_scores(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    alpha: float = 0.5,
    use_bigrams: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "portable",
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, arXiv:2302.03169 — "Data
    Selection for Language Models via Importance Resampling", public
    paper): per raw document, the log-likelihood ratio of its hashed
    n-gram features under a target-corpus unigram model vs the raw-corpus
    model. Returns (id, n_feats, llr_e4); select by thresholding or top-k
    on ``llr_e4`` (the paper's Gumbel-noise resampling is a caller-side
    tie-break policy — scores here are the deterministic substrate).

    Features are the paper's: whitespace tokens (lowercased) and, with
    ``use_bigrams``, space-joined token bigrams, each hashed into
    ``buckets`` buckets. Bucket probabilities use add-``alpha`` smoothing:
    ``p(b) = (c_b + alpha) / (N + alpha * B)``.

    Scale design: both corpus scans reduce to one ``buckets``-row count
    table each (map-side combined groupBy on the bucket id — state is B
    rows regardless of corpus size); the log-ratio table (raw buckets
    left-joined with target counts) is <= B rows and BROADCAST to the
    feature stream, so scoring is one narrow join + one groupBy(id). No
    floats cross engines except the final ln-sum, absorbed by e4 rounding
    (the ngram_lm contract). ``hash_method='portable'`` makes the bucket
    assignment bit-identical in any engine; 'xxhash64' is the faster
    Spark-only path.
    """
    rawf = hashed_ngram_features(
        docs, buckets, use_bigrams, text_col, id_col, hash_method
    )
    tgtc = hashed_ngram_features(
        target, buckets, use_bigrams, text_col, id_col, hash_method
    ).groupBy("bucket").agg(F.count("*").alias("ct"))
    rawc = rawf.groupBy("bucket").agg(F.count("*").alias("cr"))
    nt = tgtc.agg(F.sum("ct").alias("nt"))
    nr = rawc.agg(F.sum("cr").alias("nr"))
    lr = (
        rawc.join(tgtc, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(F.col("nt"), F.lit(0)) + F.lit(alpha * buckets))
                )
                - F.log(
                    (F.col("cr") + F.lit(alpha))
                    / (F.col("nr") + F.lit(alpha * buckets))
                )
            ).alias("_lr"),
        )
    )
    scored = (
        rawf.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(F.count("*").alias("n_feats"), F.sum("_lr").alias("_s"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.floor(F.coalesce(F.col("_s"), F.lit(0.0)) * 10_000 + F.lit(0.5))
            .cast("long")
            .alias("llr_e4"),
        )
    )


def classifier_scores(
    docs: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    buckets: int = 4096,
    use_bigrams: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "portable",
) -> DataFrame:
    """Hashed linear text-classifier INFERENCE — the fastText-style quality
    scorer every public LLM corpus pipeline runs (GPT-3's LR quality
    filter, CCNet/RefinedWeb-style classifiers; public papers). Weights
    are learned elsewhere and arrive as a (bucket, weight) table; this
    operator only scores: ``score = bias + sum(weight[bucket])`` over the
    document's hashed unigram+bigram feature occurrences (the
    :func:`hashed_ngram_features` map, shared with DSIR).

    Returns (id, n_feats, score_e4, positive) for EVERY input document
    (featureless docs score at the bias). The weight table is <= ``buckets``
    rows and broadcast, so scoring is one narrow join + one groupBy(id) —
    the same shuffle shape as any counting rollup, independent of corpus
    size. Missing buckets weigh 0.
    """
    f = hashed_ngram_features(
        docs, buckets, use_bigrams, text_col, id_col, hash_method
    )
    w = weights.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("weight").cast("double").alias("_w"),
    )
    scored = (
        f.join(F.broadcast(w), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum(F.coalesce(F.col("_w"), F.lit(0.0))).alias("_s"),
        )
    )
    total = F.coalesce(F.col("_s"), F.lit(0.0)) + F.lit(float(bias))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.floor(total * 10_000 + F.lit(0.5)).cast("long").alias("score_e4"),
            (total >= 0).alias("positive"),
        )
    )
