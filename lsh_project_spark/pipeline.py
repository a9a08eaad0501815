"""End-to-end near-duplicate detection & clustering pipeline.

images(image_id, caption, phash)
  -> slim projection; string ids hashed to xxhash64 longs
  -> profile: ONE Arrow map stage (operators/profile.py) computing, per
     record batch, CP-LSH buckets over phash vectors (reference semantics,
     batched matmul), MinHash bands (Broder '97) and two SimHash
     fingerprints (Charikar '02) over captions, and the shingle-hash set
  -> candidate pairs: one bucket self-join over the unified signature
     table of all three modalities (hot-bucket star defense)
  -> exact verify (phash Hamming <= tau OR shingle Jaccard >= tau)
  -> substring modality (winnow -> fp equi-join -> exact LCS verify)
  -> OR-union of the verified pairs of ALL modalities
  -> large-star/small-star connected components
  -> map-back to string ids: (image_id, cluster_id)

``_dedup_chain`` writes this chain once; ``dedup_pipeline``,
``checkpoint.checkpointed_dedup`` and ``bench.run_dedup`` differ only in
how each stage is materialized.  The substring modality reads only the
slim input, so the chain builds it on a background thread while the
image/caption branch runs.  ``all_signatures`` builds the same
signature table from the standalone per-modality operators
(operators/signatures.py) — the parity reference for the profile path.

Column discipline: `bytes` is projected away before the first shuffle and
never reappears (SURVEY.md §4 "keep image bytes out of every shuffle").
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .config import PipelineConfig
from .operators.candidates import candidate_pairs
from .operators.cluster import assign_clusters
from .operators.featurize import features_from_phash
from .operators.signatures import (
    cp_signature_table,
    minhash_band_table,
    simhash_band_table,
    simhash_table,
)


def _unpersist(caches: list[DataFrame]) -> None:
    for df in caches:
        df.unpersist()
    caches.clear()


@dataclass
class PipelineResult:
    assignments: DataFrame  # (image_id, cluster_id)
    verified_pairs: DataFrame  # (a, b)
    # 1-row lazy DataFrame (hot_buckets, pairs_dropped, max_bucket): the
    # skew defense's exact recall-loss accounting (operators/candidates.py)
    drop_stats: DataFrame | None = None
    # what the run persisted; close() (or leaving a ``with`` block)
    # unpersists it once the caller's last action is done
    caches: list[DataFrame] = field(default_factory=list)

    def close(self) -> None:
        _unpersist(self.caches)

    def __enter__(self) -> PipelineResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def all_signatures(images: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Unified multi-modal signature table (image_id, modality, band, bucket).

    modality 0 = CP-LSH over phash vectors (reference semantics),
    modality 1 = MinHash bands over captions, modality 2 = SimHash bands.
    One union -> ONE bucket self-join downstream (instead of three), so the
    candidate stage pays one shuffle and one set of stages at any scale.
    """
    docs = images.select("image_id", F.col("caption").alias("text"))
    cp = cp_signature_table(features_from_phash(images), cfg.cp).select(
        "image_id",
        F.lit(0).alias("modality"),
        F.col("table_idx").cast("int").alias("band"),
        "bucket",
    )
    mh = minhash_band_table(docs, cfg.minhash, id_col="image_id").select(
        "image_id",
        F.lit(1).alias("modality"),
        F.col("band_idx").alias("band"),
        F.col("band_hash").alias("bucket"),
    )
    sh = simhash_band_table(
        simhash_table(docs, cfg.simhash, id_col="image_id"),
        cfg.simhash,
        id_col="image_id",
    ).select(
        "image_id",
        F.lit(2).alias("modality"),
        F.col("band_idx").alias("band"),
        F.col("band_hash").alias("bucket"),
    )
    return cp.unionByName(mh).unionByName(sh)


def map_back_assignments(assignments_h: DataFrame, idmap: DataFrame) -> DataFrame:
    """(hashed image_id, hashed cluster_id) -> (image_id, cluster_id) with
    every cluster relabeled to its min member STRING id — exactly the label
    the string-keyed plan (and the DuckDB recursive-CTE oracle) produces.
    ``idmap`` is the narrow (hid, image_id) map, one row per input row; AQE
    broadcasts it at bench scale, and at warehouse scale these are the only
    two string shuffles left in the whole pipeline."""
    named = (
        assignments_h.withColumnRenamed("image_id", "_hid")
        .join(idmap, F.col("_hid") == idmap["hid"])
        .select("image_id", F.col("cluster_id").alias("_ch"))
    )
    labels = named.groupBy("_ch").agg(F.min("image_id").alias("cluster_id"))
    return named.join(labels, "_ch").select("image_id", "cluster_id")


def _hashes_ids(images: DataFrame) -> bool:
    """String ids ride the chain as xxhash64 longs and are mapped back at
    the end; ids that are already longs ride it as they are."""
    return dict(images.dtypes)["image_id"] == "string"


def _dedup_chain(
    images: DataFrame, cfg: PipelineConfig, stage, caches: list[DataFrame]
) -> PipelineResult:
    """The batch stage chain, composed once for every runner.

    ``stage(name, parents, build, extra_metrics=None)`` returns the
    materialized DataFrame of one named stage: ``build()`` makes its plan,
    ``parents`` names the stages it reads, and ``extra_metrics`` (candidates
    only) is a zero-arg callable returning the hot-bucket drop totals.  The
    runners differ only in that callback: in memory (``dedup_pipeline``),
    Parquet checkpoints (``checkpoint.checkpointed_dedup``) or persist +
    count barriers with timers (``bench.run_dedup``).  ``caches`` collects
    what the chain's operators persist; the result's ``close()`` frees it.

    Stages: profile -> candidates -> verified_pairs -> edges -> assignments
    -> map_back (string ids only).  When enabled, substring_pairs runs on
    one background thread from before profile until just before edges, so
    ``stage`` is called from two threads.  The thread inherits the caller's
    job group and tags; an error on either side propagates once both sides
    have stopped, and no thread outlives the call.
    """
    from .operators.profile import (
        multimodal_profile,
        profile_signatures,
        verify_pairs_from_profile,
    )

    slim = images.select("image_id", "caption", "phash")
    # the Arrow profile stage parallelizes over INPUT partitions; a compact
    # parquet (few row groups) would starve the Python workers.  Only
    # repartition when the scan is narrower than the cluster — at real
    # scale inputs have plenty of splits and this is a no-op.
    spark = images.sparkSession
    target = spark.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target)
    # Narrow the hot path to 8-byte keys: every shuffle up to the map-back
    # (both collect_list levels, pair dedup, the verify self-joins, every
    # CC round) moves xxhash64(image_id) longs instead of id strings — the
    # byte attribution (scripts/probe_bytes.py) put most of the shuffle
    # volume there.  Components are invariant under the key swap, and the
    # map-back relabels every cluster to its min STRING id, so the output
    # is bit-identical to the string-keyed plan; collisions are the same
    # negligible class (~n^2/2^65) as the candidate stage's fingerprints.
    # Ids that are ALREADY longs skip the hash AND the map-back: CC labels
    # each cluster with its min member id, which for them IS the final
    # label (same rule as substring_pairs / near_dup_pairs).
    hash_ids = _hashes_ids(slim)
    if hash_ids:
        idmap = slim.select(F.xxhash64("image_id").alias("hid"), "image_id")
        slim = slim.select(
            F.xxhash64("image_id").alias("image_id"), "caption", "phash"
        )
    edge_parents, sub_future = ["verified_pairs"], None
    # leaving the block waits for the substring thread, also on error
    with ThreadPoolExecutor(max_workers=1) as pool:
        if cfg.substring_enabled:
            # OR-union the substring modality (winnow -> fp join -> exact
            # LCS verify) into the edge set before clustering: the engine's
            # output is the OR of ALL duplicate modalities (SURVEY.md §7
            # M2) — a pair sharing a >= min_length caption substring is a
            # duplicate even when its phash Hamming and shingle Jaccard
            # both miss.  It shares nothing with the image/caption branch
            # until the edges, so its plan-time jobs overlap that branch's.
            from .operators.substring import substring_pairs

            sub_future = pool.submit(
                inheritable_thread_target(spark)(stage),
                "substring_pairs",
                [],
                lambda: substring_pairs(
                    slim.select("image_id", F.col("caption").alias("text")),
                    cfg.substring,
                    id_col="image_id",
                    text_col="text",
                    caches=caches,
                ).select("a", "b"),
            )
            edge_parents.append("substring_pairs")
        profile = stage("profile", [], lambda: multimodal_profile(slim, cfg))
        # pack (modality, band, bucket) into one 64-bit key: the salted
        # aggregation, its bucket-total window, and the cold regroup all
        # key on it, so one long instead of three columns narrows every
        # one of those shuffles.  A cross-bucket hash collision
        # (~rows^2/2^65) can only MERGE two buckets, adding false
        # candidates the exact verify removes.
        dstats: dict = {}
        cands = stage(
            "candidates",
            ["profile"],
            lambda: candidate_pairs(
                profile_signatures(profile, cfg).select(
                    "image_id",
                    F.xxhash64("modality", "band", "bucket").alias("bucket"),
                ),
                bucket_cols=("bucket",),
                hot_bucket_threshold=cfg.hot_bucket_threshold,
                drop_stats=dstats,
            ),
            # the skew defense's exact recall-loss budget (hot_pairs_dropped
            # = C(n,2) - (n-1) summed over hot buckets)
            extra_metrics=lambda: {
                f"hot_{k}": int(v)
                for k, v in dstats["df"].collect()[0].asDict().items()
            },
        )
        verified = stage(
            "verified_pairs",
            ["profile", "candidates"],
            lambda: verify_pairs_from_profile(cands, profile, cfg),
        )
        sub = sub_future.result() if sub_future else None
    edges = stage(
        "edges",
        edge_parents,
        lambda: verified.unionByName(sub).dropDuplicates(["a", "b"])
        if sub is not None
        else verified,
    )
    assignments_h = stage(
        "assignments",
        ["profile", "edges"],
        lambda: assign_clusters(profile, edges, id_col="image_id"),
    )
    if not hash_ids:
        # raw long ids: CC's labels and the pair list already carry them
        pairs = edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        return PipelineResult(assignments_h, pairs, dstats.get("df"), caches)
    assignments = stage(
        "map_back",
        ["assignments"],
        lambda: map_back_assignments(assignments_h, idmap),
    )

    def named(side):
        return idmap.select(
            F.col("hid").alias(f"_h{side}"), F.col("image_id").alias(f"_i{side}")
        )

    pairs = (
        edges.join(named("a"), edges["a"] == F.col("_ha"))
        .join(named("b"), edges["b"] == F.col("_hb"))
        .select(
            F.least("_ia", "_ib").alias("a"),
            F.greatest("_ia", "_ib").alias("b"),
        )
    )
    return PipelineResult(assignments, pairs, dstats.get("df"), caches)


def _in_memory_stage(
    caches: list[DataFrame], name, parents, build, extra_metrics=None
) -> DataFrame:
    """``dedup_pipeline``'s materialization policy: two caches, no writes."""
    df = build()
    if name == "profile":
        # fill the cache BEFORE the plan fans out: the profile feeds the
        # signature union, both verify sides and the CC node list, and AQE
        # runs those first-wave stages CONCURRENTLY — on a cold cache each
        # recomputes the Arrow profile (measured: 11 simultaneous ~4.5 s
        # jobs at bench scale).  One count pins it for all of them.
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(df)
        df.count()
    elif name == "edges":
        # clustering reads the edges 2-3 times (fast-path count + collect,
        # or the distributed loop's seed checkpoint): run the verify once
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(df)
    return df


def dedup_pipeline(images: DataFrame, cfg: PipelineConfig | None = None) -> PipelineResult:
    """Production path: ONE fused Arrow-vectorized signature stage
    (operators/profile.py — the reference's bulked model), a single unified
    bucket self-join, a compact int-array verify, then CC clustering.

    Building the result runs these Spark jobs before it returns: the
    profile cache's count; substring_pairs' count of its scan pairs, which
    picks its verify path, on a background thread (plus the grid path's
    candidate checkpoint when that count is large); and the connected
    components' edge collect (one job when the edges fit in memory, one
    per round on the distributed path).  The result holds two or three
    caches (profile, edges, substring's candidate set); use it in a
    ``with`` block or call ``close()`` after the last action."""
    caches: list[DataFrame] = []
    try:
        return _dedup_chain(
            images, cfg or PipelineConfig(), partial(_in_memory_stage, caches), caches
        )
    except BaseException:
        _unpersist(caches)
        raise


def pair_recall(found_pairs: DataFrame, true_pairs: DataFrame) -> float:
    """dup-pair recall = |found ∩ true| / |true| (the graft's rendering of
    the reference's '% neighbours found', /root/reference/src/main.cc:600-607)."""
    tp = true_pairs.select("a", "b").dropDuplicates(["a", "b"])
    n_true = tp.count()
    if n_true == 0:
        return 1.0
    n_hit = tp.join(found_pairs.select("a", "b"), ["a", "b"], "left_semi").count()
    return n_hit / n_true
