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
- a regroup on the window's own partitioning (no exchange) gathers each
  cold bucket (n <= hot_bucket_threshold) whole and keeps each hot bucket
  split by salt; ONE generator then emits, per group, either ALL pairs of
  the cold bucket via a codegen'd array expression (exact semantics) or
  the hot group's *chained star*: member -> salt-group min -> bucket min.
  Connectivity through the chain keeps every member in one component
  (what the downstream connected-components consumes), while bounding
  output linearly in bucket size.  Mixed hot buckets can only lose
  candidate pairs (recall backstopped by the L independent tables), never
  gain false positives (exact verify follows),
- dropped-pair counts per hot bucket (C(n,2) minus emitted) are REPORTED:
  pass ``drop_stats`` to receive a 1-row DataFrame with the totals; the
  bench emits it in its JSON.

Pair dedup across tables/bands happens BEFORE the expensive exact verify,
so each pair is verified once, not once per colliding table.  The whole
operator is one pass with three exchanges (salted aggregate, bucket
window, pair dedup), no union over a shared subtree, and no Spark job
while its plan is built.

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
        "_s",
        "ms",
        F.sum(F.size("ms")).over(w).alias("n"),
        F.min(F.expr("array_min(ms)")).over(w).alias("mn"),
    )
    # regroup: a cold bucket gathers whole, a hot bucket stays split by
    # salt.  The key extends the window's (bucket) partitioning, so the
    # aggregate reuses it and plans no exchange.
    hot = F.col("n") > T
    group = F.when(hot, F.col("_s")).otherwise(-1).alias("_g")
    groups = (
        sized.groupBy(*bc, "n", "mn", group)
        .agg(F.flatten(F.collect_list("ms")).alias("ms"))
        .select("n", "mn", "ms", F.expr("array_min(ms)").alias("sm"))
    )
    # one generator per group: a cold group emits all its pairs; a hot
    # group emits the chained star, member -> group min (sm) -> bucket min
    # (mn), which keeps the bucket one connected component with O(n) edges.
    # Self-edges (a member and its own sm, the chain edge of mn's group)
    # fall to the a != b filter.
    all_pairs = (
        "flatten(transform(sequence(1, size(ms) - 1), i -> "
        "transform(sequence(0, i - 1), j -> "
        "struct(least(element_at(ms, i + 1), element_at(ms, j + 1)) as a, "
        "greatest(element_at(ms, i + 1), element_at(ms, j + 1)) as b))))"
    )
    star = (
        "concat(transform(ms, m -> struct(least(sm, m) as a, greatest(sm, m) as b)), "
        "array(struct(least(sm, mn) as a, greatest(sm, mn) as b)))"
    )
    edges = (
        groups.filter(hot | (F.size("ms") >= 2))
        .select(
            hot.alias("hot"),
            F.explode(F.expr(f"CASE WHEN n > {T} THEN {star} ELSE {all_pairs} END"))
            .alias("p"),
        )
        .select("hot", "p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )

    if drop_stats is not None:
        # per hot bucket with n members in g salt groups the star edges are
        # n - g (each group: size_g - 1) and the chain edges are g - 1, so
        # exactly n - 1 edges are emitted and C(n,2) - (n-1) are dropped
        # (exact accounting of the skew defense, replacing the reference's
        # silent overflow drop).  Lazy: collecting it reruns the salted
        # aggregate and window as a job of its own.
        hb = sized.filter(hot).groupBy(*bc).agg(F.first("n").alias("n"))
        drop_stats["df"] = hb.agg(
            F.count("*").alias("hot_buckets"),
            F.coalesce(
                F.sum(F.expr("n * (n - 1) / 2 - (n - 1)")), F.lit(0)
            ).cast("long").alias("pairs_dropped"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        )

    if min_shared_buckets > 1:
        # a hot edge always passes; a cold pair needs min_shared_buckets
        # enumerations across buckets
        return (
            edges.groupBy("a", "b")
            .agg(
                F.max("hot").alias("_hot"),
                F.count_if(~F.col("hot")).alias("_nb"),
            )
            .filter(F.col("_hot") | (F.col("_nb") >= min_shared_buckets))
            .select("a", "b")
        )
    return edges.select("a", "b").dropDuplicates(["a", "b"])
