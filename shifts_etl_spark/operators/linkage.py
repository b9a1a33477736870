"""Record linkage / fuzzy entity resolution: blocking + edit-distance
verify.

The classic two-stage ER shape (Fellegi-Sunter style candidate generation):
a cheap BLOCKING key (first token, soundex, prefix) restricts the
candidate self-join to within-block pairs — Σ|block|² comparisons instead
of n² — then an exact string-distance predicate (JVM built-in
``F.levenshtein``; no Python in the pair loop) keeps true near-matches.
Same candidate-generation discipline as dedup.minhash_lsh_pairs (banded
buckets) and simsearch.ivf_topk (cells): never all-pairs, ids+keys only in
the shuffle, with the same hot-block cap the LSH path grew in round 2 —
a degenerate block (one dominant first token at 100 TB) would otherwise
re-create the quadratic blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import _drop_hot_keys


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column,
    min_edit: int = 1,
    max_edit: int = 3,
    block_cap: int | None = None,
) -> DataFrame:
    """Within-block candidate pairs (a_id < b_id) whose names are within
    ``[min_edit, max_edit]`` Levenshtein edits. ``min_edit=1`` excludes
    exact duplicates (those belong to the exact-dedup path, which is
    cheaper). ``block_cap`` drops blocks with more members than the cap
    via a broadcast anti-join on the (tiny) over-quota key list before
    the self-join — bounded pair generation under key skew."""
    b = df.select(
        F.col(id_col).alias("a_id"),
        F.col(name_col).alias("a_name"),
        block_expr.alias("blk"),
    )
    if block_cap is not None:
        b = _drop_hot_keys(b, ["blk"], block_cap)
    c = b.select(
        F.col("a_id").alias("b_id"),
        F.col("a_name").alias("b_name"),
        "blk",
    )
    lev = F.levenshtein("a_name", "b_name")
    return (
        b.join(c, "blk")
        .where(F.col("a_id") < F.col("b_id"))
        .where(lev.between(min_edit, max_edit))
        .select(
            "blk",
            "a_id",
            "b_id",
            lev.alias("edit_distance"),
        )
    )
