"""Composite-key entity resolution with normalized keys and hash pre-join.

Reference parity: citations are resolved to papers by a normalized
``(title, year)`` left join with an explicit pre-hash key optimization
(``/root/reference/halvesting_geometric/utils/data/link_prediction_metadata.py:321-331``).
Here the same operator is a general N-column resolver:

1. normalize each key column (lower, trim, collapse inner whitespace, strip
   punctuation — all codegen'd regex/string expressions, no UDF);
2. pre-hash the composite key to a single 64-bit join key (one long instead
   of N strings through the shuffle — the reference's own optimization);
3. equi-join on the hash **and re-verify the normalized columns** so a hash
   collision can never mis-resolve (the reference skips this; at 10^12 rows a
   64-bit collision is expected);
4. deterministic tie-break: when several right rows share a key, the minimum
   resolved id wins (the reference keeps pandas row order — irreproducible
   under partitioning);
5. dangling policy ``keep``: unresolved left rows survive with a null
   resolved id (the reference's left join), or ``drop`` to inner-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.sampling import hash64
from halvesting_geometric_spark.plans.prefix import range_prefix


def normalize_key(col: Column | str) -> Column:
    """Case/whitespace/punctuation-insensitive canonical form of a key column:
    lower → strip non-word/non-space chars → collapse whitespace → trim.
    Null-safe (null normalizes to null)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c.cast("string"))
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]+", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def resolve_entities(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | list[tuple[str, str]],
    right_id: str = "id",
    out_col: str = "resolved_id",
    normalize: bool = True,
    dangling: str = "keep",
    hash_method: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Resolve each left row to (at most) one right entity by composite key.

    ``keys``: column names shared by both sides, or ``(left_col, right_col)``
    pairs. Returns ``left.columns + [out_col]``; ``out_col`` is null for
    unresolved rows when ``dangling='keep'`` (rows dropped when ``'drop'``).
    Deterministic: ties resolve to ``min(right_id)``.
    """
    if dangling not in ("keep", "drop"):
        raise ValueError(f"dangling must be keep|drop, got {dangling!r}")
    if not keys:
        raise ValueError("at least one key column required")
    pairs = [(k, k) if isinstance(k, str) else k for k in keys]
    reserved = {"_kh", *(f"_k{i}" for i in range(len(pairs)))}
    clashes = (set(left.columns) & (reserved | {out_col}))
    if clashes:
        raise ValueError(
            f"left columns {sorted(clashes)} collide with out_col/internal "
            f"key names — rename them (or pass a different out_col) first"
        )

    def norm(c: str) -> Column:
        return normalize_key(c) if normalize else F.col(c).cast("string")

    lnorm = [norm(lc).alias(f"_k{i}") for i, (lc, _) in enumerate(pairs)]
    rnorm = [norm(rc).alias(f"_k{i}") for i, (_, rc) in enumerate(pairs)]
    knames = [f"_k{i}" for i in range(len(pairs))]

    lk = left.select("*", *lnorm).withColumn(
        "_kh", hash64(hash_method, *knames, seed=seed)
    )
    # min-id per key on the right FIRST: the join then matches at most one row
    # per key, so no post-join dedup of (possibly huge) left payloads.
    rk = (
        right.select(F.col(right_id).alias(out_col), *rnorm)
        .withColumn("_kh", hash64(hash_method, *knames, seed=seed))
        .groupBy("_kh", *knames)
        .agg(F.min(out_col).alias(out_col))
    )
    how = "left" if dangling == "keep" else "inner"
    # join on the single long hash; re-verify the real columns to kill
    # collisions (null-safe: a null key never matches, as in the reference)
    joined = lk.join(rk, ["_kh", *knames], how)
    return joined.select(*left.columns, out_col)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 3,
    normalize: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo SNM): rank all rows by
    (blocking key, id) and emit every pair of rows within ``window``
    positions of each other.

    Complements :func:`resolve_entities`'s exact-key blocking: SNM catches
    near-miss keys that land adjacent in sort order without sharing an exact
    block. Output: (a, b) id pairs with rank(a) < rank(b), so each pair
    appears once.

    Scale shape: the global rank over (key, id) comes from
    ``plans.prefix.range_prefix`` (no single-task global window). The
    within-window self-join is banded on ``rank DIV window`` — every row
    joins at most two bands, so the pair join shuffles O(n) rows regardless
    of n and never goes quadratic.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    key = normalize_key(key_col) if normalize else F.col(key_col).cast("string")
    keyed = df.select(key.alias("_k"), F.col(id_col).alias("_id")).distinct()
    ranked = range_prefix(
        keyed, ["_k", "_id"], rank_col="_rank", num_partitions=num_partitions
    )
    lo = ranked.select(
        F.col("_id").alias("a"),
        F.col("_rank").alias("_ra"),
        (F.col("_rank") / window).cast("long").alias("_band"),
    )
    hi = ranked.select(
        F.col("_id").alias("b"),
        F.col("_rank").alias("_rb"),
        (F.col("_rank") / window).cast("long").alias("_hband"),
    )
    # each left row probes its own band and the next one; rank distance
    # (0, window] is fully contained in those two bands
    probes = lo.withColumn(
        "_probe", F.explode(F.array(F.col("_band"), F.col("_band") + 1))
    )
    return (
        probes.join(hi, probes["_probe"] == hi["_hband"])
        .filter(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= window)
        )
        .select("a", "b")
    )
