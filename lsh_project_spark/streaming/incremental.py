"""Incremental (streaming) near-duplicate detection.

Pattern: new rows arrive as a stream; each micro-batch is profiled with the
SAME fused Arrow signature UDF as the batch pipeline (operators/profile.py),
then joined against the accumulated signature store:

  new rows ──mapInPandas(profile)──► new signatures
  new sigs ⋈ store sigs (equi-join on modality/band/bucket) ──► candidates
  candidates ──exact verify──► new verified pairs  (committed)
  new profile rows appended to the store

``foreachBatch`` is the right tool here (not a stateful operator): the
signature store is a growing table, and the join/verify logic is exactly
the batch operators — streaming only schedules them incrementally.  State
lives in Parquet (stores + pairs), so the stream is restartable from its
checkpoint directory; dedup semantics match a batch run over the union of
all micro-batches (pinned by tests/test_streaming.py).

Store layout (the 100 TB shape):

- signature store partitioned by ``pbucket = pmod(xxhash64(modality, band,
  bucket), P)``: a micro-batch only reads the partitions its OWN buckets
  hash into (exact — matching (modality, band, bucket) rows cannot live
  elsewhere), so per-batch store I/O tracks the batch's bucket coverage,
  not total store size; the batch side broadcasts, and the pruned store
  subset is capped per bucket (``_cap_per_bucket`` — the streaming analog
  of the batch hot-bucket star defense) before the join, so a degenerate
  bucket accumulating in the store cannot make per-batch work unbounded.
- profile store partitioned by ``pid = pmod(xxhash64(image_id), P)``: the
  exact-verify join only reads the partitions holding candidate ids (a
  per-batch handful), again scan-pruned and broadcast-joined.
- substring modality (cfg.substring_enabled): a winnowed-fingerprint store
  partitioned by ``pfp = pmod(xxhash64(fp), P)`` and a caption store by
  ``pid`` — new captions winnow once, pair against the fp store through
  the same new-vs-store pairing as the signatures (``_pairs_with_store``),
  and the exact LCS verify fetches only the candidate ids' captions.
- every ``compact_every`` batches each store is rewritten (one file per
  partition, duplicates dropped) so the per-partition file count — and
  with it planning/open cost — stays bounded as batches accumulate.
- pairs sink: verified pairs are committed per micro-batch as APPEND
  snapshots of a versioned table (table.py, rooted at
  ``state_dir/verified_pairs`` unless ``pairs_table_root`` moves it) —
  O(new pairs) per commit, batch-id-stamped for exactly-once under
  foreachBatch retries, time travel to any micro-batch boundary.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..config import PipelineConfig
from ..operators.candidates import candidate_pairs
from ..operators.profile import (
    multimodal_profile,
    profile_signatures,
    verify_pairs_from_profile,
)
from ..operators.substring import (
    HOT_FP_THRESHOLD,
    verify_lcs_pairs,
    winnowed_fingerprints,
)
from ..table import SnapshotTable


def _exists(path: str) -> bool:
    """True once a Spark write to ``path`` has completed."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _cap_per_bucket(
    df: DataFrame, bucket_cols: tuple[str, ...], cap: int,
    id_col: str = "image_id", salt: int = 16,
) -> DataFrame:
    """Bound the STORE side of a new-vs-store cross join to ``cap`` rows
    per bucket (the streaming analog of the batch hot-bucket star defense
    — round-4 advice: without it a degenerate bucket accumulating in the
    store makes per-batch candidates grow unboundedly).

    Skew-safe two-phase selection: rank within (bucket, salt) first — a
    degenerate bucket spreads over ``salt`` reducers, each sorting only
    its shard — then rank the <= ~cap survivors per bucket.  Deterministic
    given the ids.  Like the batch star defense this can only LOSE
    candidate pairs for buckets past the cap (every new row still meets up
    to ``cap`` stored members per bucket, keeping component connectivity
    through the store's existing edges); exact verify follows, so no false
    positives."""
    per_salt = -(-cap // salt)
    w1 = Window.partitionBy(*bucket_cols, "_s").orderBy(id_col)
    w2 = Window.partitionBy(*bucket_cols).orderBy(id_col)
    return (
        df.withColumn("_s", F.pmod(F.xxhash64(id_col), F.lit(salt)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= per_salt)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= cap)
        .drop("_s", "_r1", "_r2")
    )


class IncrementalDedup:
    """Micro-batch incremental dedup over a streaming images DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: PipelineConfig | None = None,
        num_store_partitions: int = 64,
        compact_every: int = 16,
        pairs_table_root: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.state_dir = state_dir
        self.P = num_store_partitions
        self.compact_every = compact_every
        # snapshot-versioned sink for the verified pairs: one APPEND commit
        # per micro-batch (manifest references prior delta dirs, so commit
        # cost is O(new pairs)), batch-id-stamped so a foreachBatch retry
        # cannot double-append — the Iceberg streaming-sink contract
        # (table.py commit_append).  Readers get time travel across
        # micro-batches for free.
        self.pairs_table = SnapshotTable(
            spark, pairs_table_root or os.path.join(state_dir, "verified_pairs")
        )
        self._batches_since_compact = 0
        self.store_path = os.path.join(state_dir, "profile_store")
        self.sig_store_path = os.path.join(state_dir, "sig_store")
        self.fp_store_path = os.path.join(state_dir, "fp_store")
        self.caption_store_path = os.path.join(state_dir, "caption_store")
        self.assign_store_path = os.path.join(state_dir, "assign_store")
        self.remap_path = os.path.join(state_dir, "cluster_remap.json")
        os.makedirs(state_dir, exist_ok=True)
        for p in (self.sig_store_path, self.store_path, self.fp_store_path,
                  self.caption_store_path, self.assign_store_path):
            self._recover_compaction(p)

    @staticmethod
    def _recover_compaction(path: str) -> None:
        """Make the compaction swap crash-safe: _rewrite renames
        path -> path_old then path_compacting -> path, so a crash between
        the renames leaves the store ABSENT — without recovery the stream
        would restart from empty state (silently wrong dedup results).
        On init: promote a COMPLETE compacted dir (_SUCCESS present) if the
        store is missing, else restore the _old copy; then clear leftovers.
        (os.rename semantics = local/POSIX filesystem; on an object store
        this layer would flip a manifest pointer instead — the pattern the
        snapshot table layer (table.py) implements.)"""
        tmp, old = path + "_compacting", path + "_old"
        if not os.path.exists(path):
            if _exists(tmp):
                os.rename(tmp, path)
            elif os.path.exists(old):
                os.rename(old, path)
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

    # ---------------------------------------------------------------- state

    def _part(self, *cols: str):
        """Store partition of a row: ``pmod(xxhash64(cols), P)``."""
        return F.pmod(F.xxhash64(*cols), F.lit(self.P))

    def _read_for(self, path: str, ids: DataFrame) -> DataFrame:
        """Rows of the pid-partitioned store at ``path`` for the given
        (image_id) set: partition-pruned scan + broadcast semi-join (the
        store never shuffles)."""
        pids = [
            r["pid"]
            for r in ids.select(self._part("image_id").alias("pid"))
            .distinct().collect()
        ]
        store = self.spark.read.parquet(path).filter(F.col("pid").isin(pids))
        return store.join(F.broadcast(ids), "image_id", "left_semi").drop("pid")

    def _with_stored(
        self, path: str, cands: DataFrame, new_rows: DataFrame
    ) -> DataFrame:
        """``new_rows`` plus the rows the store at ``path`` holds for the
        candidates' ids: the verify side of a new-vs-store pairing."""
        if not _exists(path):
            return new_rows
        ids = (
            cands.select(F.col("a").alias("image_id"))
            .unionByName(cands.select(F.col("b").alias("image_id")))
            .distinct()
        )
        return self._read_for(path, ids).unionByName(new_rows)

    def _pairs_with_store(
        self, new: DataFrame, path: str, part_col: str,
        keys: tuple[str, ...], cap: int,
    ) -> DataFrame:
        """Distinct (a, b) candidate pairs, a < b, of the new rows
        (image_id, *keys, part_col) against each other AND against the
        store at ``path``.

        Intra-batch pairs go through the SAME salted/star-defended
        ``candidate_pairs`` as the batch pipeline, so a degenerate bucket
        inside one micro-batch is bounded exactly like anywhere else.
        New-vs-store pairs read ONLY the store partitions the new rows'
        keys hash into (exact pruning — equal keys imply equal
        ``part_col``), cap the pruned subset per bucket (skew defense) and
        broadcast the new side.  Only the pruned per-batch subset ever
        shuffles (for the cap's ranking) — never the store as a whole."""
        intra = candidate_pairs(
            new, id_col="image_id", bucket_cols=keys, hot_bucket_threshold=cap
        )
        if not _exists(path):
            return intra
        hit = [r[part_col] for r in new.select(part_col).distinct().collect()]
        stored = _cap_per_bucket(
            self.spark.read.parquet(path).filter(F.col(part_col).isin(hit)),
            keys, cap,
        )
        cross = (
            stored.select(*keys, F.col("image_id").alias("a"))
            .join(
                F.broadcast(new.select(*keys, F.col("image_id").alias("b"))),
                list(keys),
            )
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        )
        return cross.unionByName(intra).dropDuplicates(["a", "b"])

    # ---------------------------------------------------------------- batch

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: profile the new rows, pair them against the
        stores AND against each other, verify, commit the pairs, append
        state.  With the substring modality on, the new captions' winnowed
        fingerprints take the same pairing and the exact diagonal-run LCS
        verify, and the survivors are OR-unioned into the pairs."""
        cfg = self.cfg
        # every DataFrame this batch persists is unpersisted when it ends,
        # whether it returns or raises
        caches: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            caches.append(df.persist())
            return df

        try:
            new_profile = cache(multimodal_profile(
                batch_df.select("image_id", "caption", "phash"), cfg
            ))
            if new_profile.isEmpty():
                return
            new_sigs = cache(profile_signatures(new_profile, cfg).withColumn(
                "pbucket", self._part("modality", "band", "bucket")
            ))
            cands = cache(self._pairs_with_store(
                new_sigs, self.sig_store_path, "pbucket",
                ("modality", "band", "bucket"), cfg.hot_bucket_threshold,
            ))
            pairs = verify_pairs_from_profile(
                cands, self._with_stored(self.store_path, cands, new_profile), cfg
            )
            texts = batch_df.select("image_id", F.col("caption").alias("text"))
            if cfg.substring_enabled:
                new_fps = cache(winnowed_fingerprints(
                    texts, cfg.substring, id_col="image_id", text_col="text"
                ).withColumn("pfp", self._part("fp")))
                sub_cands = self._pairs_with_store(
                    new_fps, self.fp_store_path, "pfp", ("fp",), HOT_FP_THRESHOLD
                )
                survivors = verify_lcs_pairs(
                    sub_cands,
                    self._with_stored(self.caption_store_path, sub_cands, texts),
                    cfg.substring.min_length, id_col="image_id", text_col="text",
                )
                pairs = pairs.unionByName(survivors.select("a", "b"))
            pairs = cache(pairs)
            self.pairs_table.commit_append(
                pairs, note=f"micro-batch {batch_id}", batch_id=batch_id
            )
            self._update_assignments(new_profile.select("image_id"), pairs)
            new_sigs.write.mode("append").partitionBy("pbucket").parquet(
                self.sig_store_path
            )
            new_profile.withColumn("pid", self._part("image_id")).write.mode(
                "append"
            ).partitionBy("pid").parquet(self.store_path)
            if cfg.substring_enabled:
                new_fps.write.mode("append").partitionBy("pfp").parquet(
                    self.fp_store_path
                )
                texts.withColumn("pid", self._part("image_id")).write.mode(
                    "append"
                ).partitionBy("pid").parquet(self.caption_store_path)
        finally:
            for df in caches:
                df.unpersist()
        self._batches_since_compact += 1
        if self._batches_since_compact >= self.compact_every:
            self.compact()

    # ----------------------------------------- incremental cluster maintenance

    def _load_remap(self) -> dict:
        if not os.path.exists(self.remap_path):
            return {}
        with open(self.remap_path) as f:
            # stored as [old, new] pairs so JSON round-trips int/str ids
            return dict(map(tuple, json.load(f)))

    def _save_remap(self, remap: dict) -> None:
        tmp = self.remap_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([[k, v] for k, v in remap.items()], f)
        os.replace(tmp, self.remap_path)

    def _resolved(self, store: DataFrame) -> DataFrame:
        """``store`` with each ``cluster_id`` resolved through the cluster
        remap (a broadcast join; the remap is kept fully flattened, so one
        lookup lands on the root)."""
        remap = self._load_remap()
        if not remap:
            return store
        id_type = dict(store.dtypes)["cluster_id"]
        rdf = self.spark.createDataFrame(
            list(remap.items()), f"cluster_id {id_type}, _root {id_type}"
        )
        label = F.coalesce("_root", "cluster_id").alias("cluster_id")
        return store.join(F.broadcast(rdf), "cluster_id", "left").select(
            *(label if c == "cluster_id" else c for c in store.columns)
        )

    def _update_assignments(self, new_ids_df: DataFrame, pairs: DataFrame) -> None:
        """Per-micro-batch cluster maintenance (round-4 verdict #4): keep an
        assignment store (image_id -> cluster_id, pid-partitioned) plus a
        small cluster-remap forest, updated by union-find over (prior
        assignments of TOUCHED ids) ∪ (this batch's verified pairs).  Only
        components touched by new pairs change; per-batch cost is bounded
        by the new-pair/new-row count (pruned store reads + a driver
        union-find over the touched cluster ids), not by store size.

        Invariant matched to batch CC: cluster_id is the min member id of
        the component.  Cluster ids ARE member ids, every merge keeps the
        min, and new singletons label themselves — so resolving a stored
        label through the remap forest lands on the min member id of the
        full accumulated component, exactly what assign_clusters computes
        over the union of all batches (pinned by tests/test_streaming.py).

        Merges are recorded in the remap (old_cluster -> new_root, kept
        fully flattened) instead of rewriting stored member rows; readers
        apply it as a broadcast join, and compact() folds it into the
        store."""
        new_ids = [r["image_id"] for r in new_ids_df.distinct().collect()]
        ppdf = pairs.select("a", "b").toPandas()
        # .tolist() yields native Python ids (numpy scalars break JSON)
        pair_a, pair_b = ppdf["a"].tolist(), ppdf["b"].tolist()
        touched = set(new_ids) | set(pair_a) | set(pair_b)
        id_type = dict(new_ids_df.dtypes)["image_id"]
        prior: dict = {}
        # look up ALL touched ids, including this batch's new_ids: an id can
        # RE-ARRIVE (same image in two micro-batches) and must seed from its
        # stored cluster root — excluding new_ids here (the round-5 bug) made
        # re-arrivals look fresh, appending a second conflicting store row
        # seeded from the id itself instead of its stored label
        if touched and _exists(self.assign_store_path):
            ids_df = self.spark.createDataFrame(
                [(i,) for i in touched], f"image_id {id_type}"
            )
            rows = self._read_for(self.assign_store_path, ids_df).collect()
            prior = {r["image_id"]: r["cluster_id"] for r in rows}

        remap = self._load_remap()

        def resolve(c):
            while c in remap:
                c = remap[c]
            return c

        # union-find over the touched ids' current cluster roots
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        base = {i: resolve(prior[i]) if i in prior else i for i in touched}
        for a, b in zip(pair_a, pair_b):
            ra, rb = find(base[a]), find(base[b])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # record merges; keep the remap forest fully flattened
        for c in {v for v in base.values()}:
            r = find(c)
            if r != c:
                remap[c] = r
        for k in list(remap):
            remap[k] = resolve(remap[k])
        self._save_remap(remap)

        # append assignments only for ids truly absent from the store: a
        # re-arriving id already has a row whose label the remap resolves
        # to the same root this batch computed (its base was seeded from
        # that very label above)
        fresh = [i for i in new_ids if i not in prior]
        if fresh:
            out = self.spark.createDataFrame(
                [(i, find(base[i])) for i in fresh],
                f"image_id {id_type}, cluster_id {id_type}",
            )
            out.withColumn("pid", self._part("image_id")).write.mode(
                "append"
            ).partitionBy("pid").parquet(self.assign_store_path)

    # ----------------------------------------------------------- compaction

    def _rewrite(self, path: str, df: DataFrame, part_col: str) -> None:
        """Replace the store at ``path`` with ``df``, one file per
        ``part_col`` partition: write it aside, then swap by two renames
        (_recover_compaction completes a swap a crash interrupted)."""
        tmp, old = path + "_compacting", path + "_old"
        df.repartition(part_col).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)

    def compact(self) -> None:
        """Rewrite every store as one file per partition with duplicates
        dropped, bounding per-partition file counts (and with them the
        per-batch planning/open cost) as micro-batches accumulate."""
        for path, part_col, key in (
            (self.sig_store_path, "pbucket", ["modality", "band", "bucket", "image_id"]),
            (self.store_path, "pid", ["image_id"]),
            (self.fp_store_path, "pfp", ["image_id", "fp"]),
            (self.caption_store_path, "pid", ["image_id"]),
        ):
            if _exists(path):
                self._rewrite(
                    path, self.spark.read.parquet(path).dropDuplicates(key), part_col
                )
        if _exists(self.assign_store_path):
            # fold the cluster remap into the stored labels, then clear it
            # (keeps the broadcast side at read time permanently small)
            self._rewrite(
                self.assign_store_path,
                self._resolved(self.spark.read.parquet(self.assign_store_path))
                .dropDuplicates(["image_id"]),
                "pid",
            )
            self._save_remap({})
        if self.pairs_table.current_id():
            # collapse the per-batch append chain (read fan-in grows one
            # dir per micro-batch otherwise); history stays time-travelable
            # and commit_append's monotone batch-id skip keeps retries
            # idempotent across the compaction commit
            self.pairs_table.rewrite_data_files(
                note=f"compaction after {self.compact_every} batches"
            )
        self._batches_since_compact = 0

    # ------------------------------------------------------------- querying

    def start(self, stream_images: DataFrame, trigger_available_now: bool = True):
        """Attach to a streaming images DataFrame and run until the source
        is drained (availableNow) or indefinitely."""
        writer = (
            stream_images.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation", os.path.join(self.state_dir, "_checkpoint")
            )
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def verified_pairs(self, snapshot_id: int | None = None) -> DataFrame:
        """All verified pairs; ``snapshot_id`` time-travels to the pairs as
        of that micro-batch's commit."""
        return self.pairs_table.read(snapshot_id).dropDuplicates(["a", "b"])

    def assignments(self) -> DataFrame:
        """Current cluster assignments from the incrementally-maintained
        store: stored labels resolved through the (broadcast) cluster
        remap — no CC recompute over accumulated pairs."""
        store = self.spark.read.parquet(self.assign_store_path).select(
            "image_id", "cluster_id"
        )
        return self._resolved(store).dropDuplicates(["image_id"])

    def assignments_recomputed(self) -> DataFrame:
        """Batch CC over all accumulated verified pairs (the full-recompute
        twin; the incremental store is pinned against it in tests)."""
        from ..operators.cluster import assign_clusters

        profile = self.spark.read.parquet(self.store_path)
        return assign_clusters(profile, self.verified_pairs(), id_col="image_id")
