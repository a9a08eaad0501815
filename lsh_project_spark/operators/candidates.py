"""Candidate-pair generation: salted grouped bucket join with hot-bucket
star defense and drop accounting.

Semantics from the reference's probe loop (/root/reference/src/main.cc:369-408):
two rows that share a (table, bucket) are candidate duplicates.  The
reference's skew defense is a hard 2^k-slot bucket cap with silent overflow
drop (/root/reference/src/lsh.c:179-189); ours is explicit:

- ONE salted repartition moves every signature row exactly once: rows group
  by (bucket, salt(member)), so even a degenerate mega-bucket spreads over
  ``salt_groups`` reducers and no single task ever materializes it whole,
- bucket totals roll up over the (already tiny) per-salt groups with a
  window — no second pass over the raw rows, no count join-back,
- cold buckets (n <= hot_bucket_threshold) emit ALL pairs via a codegen'd
  array expression (exact semantics),
- hot buckets emit *chained star* pairs: member -> salt-group min ->
  bucket min.  Connectivity through the chain keeps every member in one
  component (what the downstream connected-components consumes), while
  bounding output linearly in bucket size.  Mixed hot buckets can only
  lose candidate pairs (recall backstopped by the L independent tables),
  never gain false positives (exact verify follows),
- dropped-pair counts per hot bucket (C(n,2) minus emitted) are REPORTED:
  pass ``drop_stats`` to receive a 1-row DataFrame with the totals; the
  bench emits it in its JSON.

Pair dedup across tables/bands happens BEFORE the expensive exact verify,
so each pair is verified once, not once per colliding table.

At 100 TB the salted groupBy is the dominant shuffle: it moves each
signature row once, keyed as co-located as the problem allows, and the
salt bounds per-task memory regardless of key skew.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# all-pairs generation materializes an O(T^2) struct array per bucket row;
# 4096^2 * 16 B = 256 MB is the hard stop where that stops being sane
_MAX_ALLPAIRS_THRESHOLD = 4096


def candidate_pairs(
    signatures: DataFrame,
    id_col: str = "image_id",
    bucket_cols: tuple[str, ...] = ("table_idx", "bucket"),
    hot_bucket_threshold: int = 2000,
    salt_groups: int = 16,
    drop_stats: dict | None = None,
    min_shared_buckets: int = 1,
) -> DataFrame:
    """Signature table -> distinct (a, b) candidate pairs with a < b.

    ``min_shared_buckets > 1`` keeps only pairs co-occurring in at least
    that many buckets (counted over the enumerated cold-bucket pairs; hot
    -bucket star edges always pass — they are a connectivity fallback, not
    an enumeration).  Same shuffle as the dedup it replaces (a groupBy
    count instead of dropDuplicates), but the downstream verify sees
    superlinearly fewer near-threshold pairs.  RECALL CAVEAT: a true pair
    sharing only ``min_shared_buckets - 1`` buckets is dropped — callers
    must own that bound (see substring_pairs' min_shared_fps)."""
    if hot_bucket_threshold > _MAX_ALLPAIRS_THRESHOLD:
        raise ValueError(
            f"hot_bucket_threshold {hot_bucket_threshold} > "
            f"{_MAX_ALLPAIRS_THRESHOLD}: all-pairs arrays would not be "
            "memory-safe; lower the threshold (star pairs take over)"
        )
    bc = list(bucket_cols)
    T = hot_bucket_threshold

    # one full shuffle, salted: a degenerate bucket spreads over salt_groups
    # reducers (multinomially balanced) instead of landing on one task
    grouped = (
        signatures.select(*bc, F.col(id_col).alias("member"))
        .groupBy(*bc, F.pmod(F.xxhash64("member"), F.lit(salt_groups)).alias("_s"))
        .agg(F.collect_list("member").alias("ms"))
    )
    # bucket totals over the per-salt groups (<= salt_groups rows/bucket)
    w = Window.partitionBy(*bc)
    sized = grouped.select(
        *bc,
        "ms",
        F.sum(F.size("ms")).over(w).alias("n"),
        F.min(F.expr("array_min(ms)")).over(w).alias("mn"),
    )
    # ONE materialization for the 3-4 consumers below (cold regroup, hot
    # star, hot chain, drop-stats): AQE fails to reuse the salted-agg and
    # window exchanges across the union branches — measured at the 66k
    # bench, the full aggregation map stage (95 MB read, 44 MB shuffle)
    # and the window exchange each executed THREE times concurrently
    # (non-AQE planning reuses them; stage IO confirms).  Cutting the
    # shared subtree with an eager executor-local checkpoint runs each
    # exchange once; blocks are freed by the ContextCleaner when the plan
    # is GC'd.  Trade-off vs a reliable checkpoint: executor loss between
    # materialization and consumption fails the enclosing job (fail-stop
    # recompute, never wrong results) — acceptable for a one-shot
    # intermediate inside a single logical query, and the write round-trip
    # a reliable checkpoint would add costs more than it insures here.
    sized = sized.localCheckpoint(eager=True)

    # cold: gather the <= T members per bucket, emit all pairs via codegen
    cold = (
        sized.filter(F.col("n") <= T)
        .groupBy(*bc)
        .agg(F.flatten(F.collect_list("ms")).alias("allm"))
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(allm) - 1), i -> "
        "transform(sequence(0, i - 1), j -> "
        "struct(least(element_at(allm, i + 1), element_at(allm, j + 1)) as a, "
        "greatest(element_at(allm, i + 1), element_at(allm, j + 1)) as b))))"
    )
    cold_pairs = (
        cold.filter(F.size("allm") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.a", "p.b")
    )

    # hot: chained star — member -> salt-group min -> bucket min keeps the
    # bucket one connected component with O(n) edges
    hot = sized.filter(F.col("n") > T).select(
        "ms", F.expr("array_min(ms)").alias("sm"), "mn"
    )
    hot_member_edges = (
        hot.select(F.col("sm"), F.explode("ms").alias("member"))
        .filter(F.col("member") != F.col("sm"))
        .select(
            F.least("sm", "member").alias("a"), F.greatest("sm", "member").alias("b")
        )
    )
    hot_chain_edges = (
        hot.filter(F.col("sm") != F.col("mn"))
        .select(F.least("sm", "mn").alias("a"), F.greatest("sm", "mn").alias("b"))
        .dropDuplicates(["a", "b"])
    )

    if drop_stats is not None:
        # per hot bucket with n members in g salt groups the star edges are
        # n - g (each group: size_g - 1) and the chain edges are g - 1, so
        # exactly n - 1 edges are emitted and C(n,2) - (n-1) are dropped
        # (exact accounting of the skew defense, replacing the reference's
        # silent overflow drop)
        hb = sized.filter(F.col("n") > T).groupBy(*bc).agg(
            F.first("n").alias("n"),
        )
        drop_stats["df"] = hb.agg(
            F.count("*").alias("hot_buckets"),
            F.coalesce(
                F.sum(F.expr("n * (n - 1) / 2 - (n - 1)")), F.lit(0)
            ).cast("long").alias("pairs_dropped"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        )

    if min_shared_buckets > 1:
        cold_pairs = (
            cold_pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("_nb"))
            .filter(F.col("_nb") >= min_shared_buckets)
            .select("a", "b")
        )
    return (
        cold_pairs.unionByName(hot_member_edges)
        .unionByName(hot_chain_edges)
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
